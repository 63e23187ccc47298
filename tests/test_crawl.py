"""End-to-end crawl over a synthetic tree (SURVEY.md §5.3 / FIXTURES.md §4)."""

from __future__ import annotations

import os

import pytest
from crawl_reference import reference_walk

from storage_crawler_spark.config import CrawlConfig
from storage_crawler_spark.crawl import crawl


@pytest.fixture()
def tree(tmp_path):
    """Build the fixture tree: excluded dir, symlinks (file + dir targets),
    long extensions, dotless names, dotted dir components, non-UTF-8 name."""
    root = tmp_path / "root"
    (root / "sub1").mkdir(parents=True)
    (root / "sub1" / "a.txt").write_bytes(b"x" * 10)
    (root / "sub1" / "archive.tarball").write_bytes(b"y" * 100)
    (root / "sub1" / "noext").write_bytes(b"z")
    (root / ".snapshot").mkdir()
    (root / ".snapshot" / "hidden_child.txt").write_bytes(b"h")
    (root / "v1.0").mkdir()
    (root / "v1.0" / "plain").write_bytes(b"p" * 7)
    (root / "deep" / "d1" / "d2").mkdir(parents=True)
    (root / "deep" / "d1" / "d2" / "leaf.tar.gz").write_bytes(b"l" * 42)
    os.symlink(root / "sub1" / "a.txt", root / "link_to_file")
    os.symlink(root / "sub1", root / "link_to_dir")  # must NOT be descended
    non_utf8 = bytes(root) + b"/caf\xe9.dat"
    with open(non_utf8, "wb") as fh:
        fh.write(b"cafe")
    return root


def test_crawl_rows_and_semantics(spark, tree, tmp_path):
    owners_file = tmp_path / "owners.txt"
    owners_file.write_text(
        f"alice={tree}\nbob={tree}/sub1\n"
    )
    cfg = CrawlConfig(dirs=[str(tree)], owners=str(owners_file))
    res = crawl(spark, cfg)
    rows = res.files.collect()
    by_path = {bytes(r.path): r for r in rows}

    root = bytes(tree)
    # every entry present: files, dirs, symlinks, excluded dir itself
    assert root in by_path
    assert root + b"/.snapshot" in by_path  # excluded dir row still emitted
    assert root + b"/.snapshot/hidden_child.txt" not in by_path  # not descended
    # exclusion gates DESCENT only: the excluded dir's own record still says
    # "directory" (S_IFDIR mode bits — regression for the descend/is_dir mixup)
    snap = by_path[root + b"/.snapshot"]
    assert int(snap.st_mode, 2) & 0o170000 == 0o040000
    assert root + b"/link_to_dir" in by_path
    assert root + b"/link_to_dir/a.txt" not in by_path  # symlink dir not descended
    assert root + b"/deep/d1/d2/leaf.tar.gz" in by_path  # depth works
    assert root + b"/caf\xe9.dat" in by_path  # non-UTF-8 fidelity

    # extension semantics on crawled rows
    assert bytes(by_path[root + b"/deep/d1/d2/leaf.tar.gz"].extension) == b"tar.gz"
    assert bytes(by_path[root + b"/sub1/archive.tarball"].extension) == b"tarball"
    assert by_path[root + b"/v1.0/plain"].extension is not None  # fall-through quirk
    assert bytes(by_path[root + b"/v1.0/plain"].extension).endswith(b"0/plain")

    # owner: deepest ancestor wins
    assert by_path[root + b"/sub1/a.txt"].owner == "bob"
    assert by_path[root + b"/v1.0/plain"].owner == "alice"

    # lstat not stat: symlink rows carry symlink mode bits (S_IFLNK = 0o120000)
    link = by_path[root + b"/link_to_file"]
    assert link.st_mode[:5] != "00000"  # mode present
    assert int(link.st_mode, 2) & 0o170000 == 0o120000

    # sizes recorded
    assert by_path[root + b"/sub1/a.txt"].st_size == 10

    # st_mode is the 19-bit string encoding
    f = by_path[root + b"/sub1/archive.tarball"]
    assert len(f.st_mode) == 19 and set(f.st_mode) <= {"0", "1"}

    # summary counters agree with the row set
    assert res.summary["files"] == len(rows)
    dir_rows = [r for r in rows if int(r.st_mode, 2) & 0o170000 == 0o040000]
    assert res.summary["dirs"] == len(dir_rows)

    # status log: all nine lifecycle events present (storcrawl.py:575-629)
    status = {r.status for r in res.status.collect()}
    for ev in (
        "begin",
        "walker started",
        "processed all dirs",
        "processed all files",
        "processed all DB commits",
        "end",
    ):
        assert ev in status
    assert "file stat rate" in status  # metric snapshot rows too


def test_crawl_kernel_enrichment_is_exact(spark, tree, tmp_path):
    """extension and owner come out of the walk kernel (the root's lstat
    row and every scanned entry alike) and equal the per-path reference
    functions on every row, at a non-default extension length."""
    from storage_crawler_spark.functions.owners import find_owner, parse_owners_file
    from storage_crawler_spark.functions.paths import find_extension

    owners_file = tmp_path / "owners.txt"
    owners_file.write_text(f"alice={tree}\nbob={tree}/sub1:{tree}/link_to_dir\n")
    owners = parse_owners_file(owners_file.read_text().splitlines())
    res = crawl(spark, CrawlConfig(dirs=[str(tree)], owners=str(owners_file), extension_length=3))
    by_path = {bytes(r.path): r for r in res.files.collect()}

    root = bytes(tree)
    for p in (root, root + b"/caf\xe9.dat", root + b"/link_to_file", root + b"/link_to_dir"):
        assert p in by_path
    for p, r in by_path.items():
        got = bytes(r.extension) if r.extension is not None else None
        assert got == find_extension(p, 3), p
        assert r.owner == find_owner(p, owners), p
    # the length bound is in force (at the default 6 this is b"tar.gz")
    assert bytes(by_path[root + b"/deep/d1/d2/leaf.tar.gz"].extension) == b"gz"
    assert by_path[root + b"/link_to_dir"].owner == "bob"


def test_crawl_rates_use_their_own_stage_times(spark, tree):
    """Walk rate over the walk job (storcrawl.py:503-505), which also runs
    every lstat, so the stat rate is the walk's rate; insert rate over the
    whole crawl."""
    res = crawl(spark, CrawlConfig(dirs=[str(tree)]))
    s = res.summary
    rates = {r.status: r.value for r in res.status.collect() if r.units and r.units.endswith("/sec")}
    assert rates["file walk rate"] == pytest.approx(s["files"] / s["walk_sec"])
    assert rates["file stat rate"] == rates["file walk rate"]
    assert rates["insert rate"] == pytest.approx(s["files"] / s["elapsed_sec"])
    assert s["walk_sec"] <= s["elapsed_sec"]


def test_crawl_is_deterministic_rowset(spark, tree):
    cfg = CrawlConfig(dirs=[str(tree)])
    a = {bytes(r.path) for r in crawl(spark, cfg).files.collect()}
    b = {bytes(r.path) for r in crawl(spark, cfg).files.collect()}
    assert a == b


def test_crawl_logfile_rotating_reference_format(spark, tree, tmp_path):
    """With config.logfile set, the crawl writes its lifecycle + metric
    events to a rotating file in the reference listener's record format."""
    logfile = tmp_path / "storcrawl.log"
    crawl(spark, CrawlConfig(dirs=[str(tree)], logfile=str(logfile)))
    text = logfile.read_text()
    for needle in ("begin", "processed all dirs", "end", "file stat rate", "INFO"):
        assert needle in text
    # reference format: asctime processName name levelname message
    first = text.splitlines()[0]
    assert " storcrawl " in first and "INFO" in first
    # repeated crawls append through ONE handler (no duplicate lines)
    crawl(spark, CrawlConfig(dirs=[str(tree)], logfile=str(logfile)))
    ends = [ln for ln in logfile.read_text().splitlines() if ln.endswith(" end")]
    assert len(ends) == 2


def test_crawl_fixture_matches_reference_walk(spark, tree):
    """The curated fixture against the independent reference walk: same
    entry set, each row's size, type bits, mtime and inode, and the
    summary's counts and depth."""
    import stat as stat_mod

    expect = reference_walk(tree)
    res = crawl(spark, CrawlConfig(dirs=[str(tree)]))
    got = {bytes(r.path): r for r in res.files.collect()}
    assert set(got) == set(expect)
    for p, (st, _) in expect.items():
        r = got[p]
        assert (r.st_size, r.st_mtime, r.st_ino) == (st.st_size, int(st.st_mtime), st.st_ino), p
        assert int(r.st_mode, 2) & 0o170000 == stat_mod.S_IFMT(st.st_mode), p
    assert res.summary["files"] == len(expect)
    assert res.summary["dirs"] == sum(stat_mod.S_ISDIR(st.st_mode) for st, _ in expect.values())
    assert res.summary["depth"] == max(level for _, level in expect.values())


def test_crawl_random_tree_matches_reference_walk(spark, tmp_path):
    """Randomized-tree crawl vs an independent os-level reference walk.

    The curated fixture pins known edge cases; this seeded random tree
    (adversarial names — dots, spaces, non-UTF-8 bytes, long extensions —
    random nesting, file/dir symlinks, an excluded directory name) checks
    the full walker semantics hold on shapes nobody hand-picked: every
    entry emitted exactly once, descent gated by exclusion and symlink
    status, lstat fidelity for size and mode type bits."""
    import random
    import stat as stat_mod

    rng = random.Random(1234)
    root = tmp_path / "rnd"
    root.mkdir()
    name_pool = [
        b"plain",
        b"a.txt",
        b"two.dots.tar.gz",
        b"trailing.",
        b".hidden",
        b"sp ace",
        b"caf\xe9",  # non-UTF-8
        b"longextension.verylongext",
        b"v1.0",
        b"skipme",
    ]
    dirs = [root]
    all_entries = []
    for _ in range(40):
        parent = rng.choice(dirs)
        raw = rng.choice(name_pool) + str(rng.randrange(1000)).encode()
        full = bytes(parent) + b"/" + raw
        kind = rng.randrange(10)
        try:
            if kind < 3 and len(dirs) < 15:
                os.mkdir(full)
                dirs.append(type(root)(os.fsdecode(full)))
            elif kind == 3 and all_entries:
                os.symlink(rng.choice(all_entries), full)
            else:
                with open(full, "wb") as fh:
                    fh.write(b"x" * rng.randrange(0, 200))
        except FileExistsError:
            continue
        all_entries.append(full)
    excluded_dir = bytes(root) + b"/EXCLUDED"
    os.mkdir(excluded_dir)
    with open(excluded_dir + b"/invisible.txt", "wb") as fh:
        fh.write(b"no")

    expect = {p: st for p, (st, _) in reference_walk(root, exclude=(b"EXCLUDED",)).items()}
    res = crawl(spark, CrawlConfig(dirs=[str(root)], exclude=["EXCLUDED"]))
    got = {bytes(r.path): r for r in res.files.collect()}

    assert set(got) == set(expect)
    for p, st in expect.items():
        r = got[p]
        assert r.st_size == st.st_size, p
        assert int(r.st_mode, 2) & 0o170000 == stat_mod.S_IFMT(st.st_mode), p
        assert r.st_mtime == int(st.st_mtime), p


def _crawl_jobs(spark, cfg):
    """(result, number of Spark jobs the crawl ran), by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"crawl-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        res = crawl(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive asynchronously
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_crawl_runs_one_job(spark, tmp_path):
    """The walk is one Spark job whatever the tree's shape: a two-level
    tree and a 150-deep chain each run exactly one, and the summary's
    depth is the deepest level walked."""
    root = tmp_path / "two"
    (root / "a").mkdir(parents=True)
    (root / "a" / "f.txt").write_text("f")
    res, jobs = _crawl_jobs(spark, CrawlConfig(dirs=[str(root)]))
    assert res.summary["depth"] == 2 and res.summary["files"] == 3
    assert jobs == 1

    chain = tmp_path / "chain"
    d = chain
    for i in range(150):
        d = d / f"d{i}"
    d.mkdir(parents=True)
    (d / "leaf.txt").write_text("x")
    res, jobs = _crawl_jobs(spark, CrawlConfig(dirs=[str(chain)]))
    # the root, 150 dirs and the leaf, which sits 151 levels below the root
    assert res.summary["files"] == 152 and res.summary["depth"] == 151
    assert jobs == 1


def test_excluded_root_name_is_walked(spark, tmp_path):
    """Exclusion gates the dirs a walk finds, not its roots: a root whose
    name is excluded is walked by the crawl and by fsmeta alike, while an
    excluded dir below it is emitted but not descended."""
    from storage_crawler_spark.sources.fsmeta import register_fsmeta

    root = tmp_path / ".snapshot"
    (root / "kept" / ".snapshot").mkdir(parents=True)
    (root / "kept" / "f.txt").write_text("f")
    (root / "kept" / ".snapshot" / "hidden.txt").write_text("h")
    expect = set(reference_walk(root))
    assert bytes(root) + b"/kept/f.txt" in expect
    assert bytes(root) + b"/kept/.snapshot/hidden.txt" not in expect

    res = crawl(spark, CrawlConfig(dirs=[str(root)]))
    assert {bytes(r.path) for r in res.files.collect()} == expect
    register_fsmeta(spark)
    rows = spark.read.format("fsmeta").load(str(root)).collect()
    assert {bytes(r.path) for r in rows} == expect


def test_split_ships_directories_only(tmp_path):
    """The driver's split lists names only and ships directory paths: every
    item is a root or a real directory, the roots come first as their own
    row, and with room to expand the leaves end up as deep items."""
    import stat as stat_mod

    from storage_crawler_spark.crawl.walker import split

    root = tmp_path / "s"
    for i in range(3):
        (root / f"d{i}" / "sub").mkdir(parents=True)
        (root / f"d{i}" / "f.txt").write_text("f")
    (root / "top.txt").write_text("t")
    (root / ".snapshot").mkdir()
    items = split([bytes(root)], frozenset({b".snapshot"}), target=2)
    assert items[0] == (bytes(root), None, 0)
    for path, _, _ in items[1:]:
        assert stat_mod.S_ISDIR(os.lstat(path).st_mode), path
    # root expanded (3 dirs >= target 2): its dirs are left as deep items
    assert (bytes(root), False, 0) in items
    assert {p for p, deep, _ in items if deep} == {bytes(root) + b"/d%d" % i for i in range(3)}
    # a target above the tree's dir count expands everything on the driver
    items = split([bytes(root)], frozenset({b".snapshot"}), target=100)
    assert not any(deep for _, deep, _ in items)
    assert len([p for p, deep, _ in items if deep is False]) == 7
