"""Seeded input generators for the benchmark, cached by seed and shape.

``make_tree`` builds a real directory tree for ``crawl_tree`` plus an
owners file with nested mappings and a byte manifest of every entry the
crawl must emit.  The entry count is a function of the shape alone, so
every seed does the same amount of work; the seed moves names, extensions
and which directory gets how many files.  The registry workload reads
fixed tables instead.

Cached inputs live under ``<checkout>/.perfbench/cache``; a directory is
only used once its ``.done`` marker exists, and older entries of the same
kind are evicted so repeated seeds do not fill the disk.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import zlib

# crawl_tree shape: counts are fixed, the seed only permutes them.
TREE_SHAPE = {
    "tops": 16,  # top-level directories
    "dirs": 160,  # leaf directories spread over the tops
    "files_min": 10,
    "files_max": 200,
    "wide": 3000,  # entries of the one very wide directory
    "chain": 64,  # depth of the deep chain
    "snapshot": 40,  # children of the excluded .snapshot directory
}
CACHE_KEEP = 3  # cached inputs of one kind kept on disk

_EXTS = [b".dat", b".txt", b".tar.gz", b"", b".log", b".c", b".", b".csv",
         b".parquet", b".fastq_gz", b".longextension", b".hidden_tail"]
_WORDS = [b"alpha", b"beta", b"gamma", b"delta", b"run", b"sample", b"raw",
          b"img", b"seq", b"tmp", b"out", b"ref"]
_OWNERS = ["alice", "bob", "carol", "dave", "erin", "frank"]


def _shape_tag(shape: dict) -> str:
    text = ",".join(f"{k}={v}" for k, v in sorted(shape.items()))
    return "%08x" % zlib.crc32(text.encode())


def cached(cache: str, kind: str, seed: int, shape: dict, build) -> tuple[str, float]:
    """Return (directory, generation seconds; 0.0 when it was cached)."""
    path = os.path.join(cache, f"{kind}-s{seed}-{_shape_tag(shape)}")
    if os.path.exists(os.path.join(path, ".done")):
        os.utime(path)
        return path, 0.0
    os.makedirs(cache, exist_ok=True)
    _evict(cache, kind)
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    build(path)
    open(os.path.join(path, ".done"), "w").close()
    return path, time.perf_counter() - t0


def _evict(cache: str, kind: str) -> None:
    olds = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d)
        for d in os.listdir(cache)
        if d.startswith(kind + "-")
    )
    for _, d in olds[: max(0, len(olds) - CACHE_KEEP + 1)]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


# --------------------------------------------------------------------------
# crawl_tree
# --------------------------------------------------------------------------


def tree_spec(seed: int, shape: dict = TREE_SHAPE) -> tuple[list[tuple[str, int, bytes]], bytes, str]:
    """The tree as (kind, size, relative path) records plus the owners-file
    text.  Kinds: ``dir``, ``file``, ``link`` (a symlink to the first leaf
    directory), and ``hdir``/``hfile`` under ``.snapshot``, which are
    created but never crawled.  Pure function of (seed, shape)."""
    rng = random.Random(seed)
    recs: list[tuple[str, int, bytes]] = []
    counts = [
        shape["files_min"] + (shape["files_max"] - shape["files_min"]) * i // max(1, shape["dirs"] - 1)
        for i in range(shape["dirs"])
    ]
    rng.shuffle(counts)

    def fname(i: int) -> bytes:
        word = rng.choice(_WORDS)
        if rng.random() < 0.02:
            word += b"\xe9"  # latin-1 byte: a non-UTF-8 name
        if rng.random() < 0.03:
            word = b"." + word  # hidden name
        return word + b"_%05d" % i + rng.choice(_EXTS)

    def size() -> int:
        return rng.randrange(1, 4096) if rng.random() < 1 / 16 else 0

    tops = []
    for t in range(shape["tops"]):
        top = b"proj%02d" % t if t % 4 else b"proj%02d.v%d" % (t, rng.randrange(1, 9))
        tops.append(top)
        recs.append(("dir", 0, top))
    leaves = []
    for i, n in enumerate(counts):
        top = tops[i % len(tops)]
        name = b"d%03d" % i if rng.random() < 0.9 else b"d%03d.data" % i
        leaf = top + b"/" + name
        leaves.append(leaf)
        recs.append(("dir", 0, leaf))
        for j in range(n):
            recs.append(("file", size(), leaf + b"/" + fname(j)))
    wide = tops[0] + b"/wide"
    recs.append(("dir", 0, wide))
    for j in range(shape["wide"]):
        recs.append(("file", size(), wide + b"/" + fname(j)))
    cur = tops[1] + b"/chain"
    for depth in range(shape["chain"]):
        recs.append(("dir", 0, cur))
        recs.append(("file", size(), cur + b"/" + fname(depth)))
        cur = cur + b"/c%02d" % depth
    snap = tops[2] + b"/.snapshot"
    recs.append(("dir", 0, snap))
    recs.append(("hdir", 0, snap + b"/hourly"))
    for j in range(shape["snapshot"]):
        recs.append(("hfile", 0, snap + b"/hourly/" + fname(j)))
    # A symlink to a populated directory: emitted, never descended.
    recs.append(("link", 0, tops[3] + b"/link_to_" + leaves[0].replace(b"/", b"_")))
    link_target = leaves[0]

    lines = []
    for k, top in enumerate(tops):
        if k % 3 == 2:
            continue  # unmapped subtrees keep a NULL owner
        nested = [lf for lf in leaves if lf.startswith(top + b"/")][:2]
        lines.append(f"{_OWNERS[k % len(_OWNERS)]}=" + ":".join(
            ["@ROOT@/" + top.decode("ascii")]
            + ["@ROOT@/" + lf.decode("ascii") for lf in nested[:1]]
        ))
        if len(nested) > 1:  # nested child mapped to another owner
            lines.append(f"{_OWNERS[(k + 1) % len(_OWNERS)]}=@ROOT@/" + nested[1].decode("ascii"))
    # a directory mapped twice: the first mapping wins
    lines.append(f"{_OWNERS[-1]}=@ROOT@/" + tops[0].decode("ascii") + ":Nothing")
    return recs, link_target, "\n".join(lines) + "\n"


def tree_manifest(seed: int, shape: dict = TREE_SHAPE) -> bytes:
    """Every entry the crawl must emit, relative to the crawl root, one
    ``path<TAB>size<TAB>kind`` line each, sorted by path bytes."""
    recs, _, _ = tree_spec(seed, shape)
    lines = sorted(
        b"%s\t%d\t%s" % (p, s, k.encode()) for k, s, p in recs if not k.startswith("h")
    )
    return b"".join(line + b"\n" for line in lines)


def parse_manifest(blob: bytes) -> dict[bytes, tuple[str, int]]:
    out = {}
    for line in blob.splitlines():
        p, s, k = line.rsplit(b"\t", 2)
        out[p] = (k.decode(), int(s))
    return out


def make_tree(cache: str, seed: int, shape: dict = TREE_SHAPE) -> tuple[str, float]:
    """Materialize the tree; returns (tree directory, generation seconds).
    The directory holds ``root/`` (the crawl root), ``owners.txt`` and
    ``manifest.bin``."""

    def build(path: str) -> None:
        recs, link_target, owners = tree_spec(seed, shape)
        root = os.path.join(path, "root").encode()
        os.makedirs(root)
        for kind, size, rel in recs:
            p = root + b"/" + rel
            if kind in ("dir", "hdir"):
                os.makedirs(p)
            elif kind == "link":
                os.symlink(root + b"/" + link_target, p)
            else:
                fd = os.open(p, os.O_CREAT | os.O_WRONLY, 0o644)
                if size:
                    os.write(fd, b"x" * size)
                os.close(fd)
        with open(os.path.join(path, "owners.txt"), "w") as fh:
            fh.write(owners.replace("@ROOT@", root.decode()))
        with open(os.path.join(path, "manifest.bin"), "wb") as fh:
            fh.write(tree_manifest(seed, shape))

    return cached(cache, "tree", seed, shape, build)
