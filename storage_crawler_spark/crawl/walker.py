"""Distributed directory expansion + stat — the crawl plane's hot path, and
the one place a filesystem entry becomes a row.

The reference runs N walker processes popping a shared dir queue
(``os.scandir`` per dir, re-enqueue child dirs, emit every entry) and N
stater processes calling lstat per path, building each record as
``(path, stat_result, extension, owner)`` in the stat stage
(storcrawl.py:326, 420-488).  The Spark-native shape is a **per-level
frontier loop**: the set of directories at depth d is a DataFrame; one
``mapInPandas`` pass scans every directory in the frontier AND stats its
entries in the same Arrow batch (scandir's DirEntry.stat(follow_symlinks=
False) is the lstat — one syscall pass, no inter-stage queue hop), derives
each entry's extension and owner from the path bytes it already holds, and
emits a columnar batch of finished records; the child directories become
the depth d+1 frontier.

Row builders shared by every plane that stats entries:
- :func:`lstat_row` — one lstat call on a path (crawl roots, the
  incremental crawl's landed paths, fsmeta's roots and loose entries);
- :func:`dir_entry_row` — one scandir ``DirEntry`` (the frontier kernel and
  fsmeta's subtree walk).
Both return an ENTRY_SCHEMA tuple with ``is_dir``/``is_symlink`` taken from
the lstat mode bits; the two crawls append extension and owner
(:data:`CRAWL_ROW_SCHEMA`), fsmeta emits ENTRY_SCHEMA as is.

Scale properties:
- work distribution: the frontier is repartitioned by path hash each level,
  so a skewed tree (one dir with 10M children) spreads across the cluster as
  its children become the next frontier; within a single giant directory,
  scandir streams and yields Arrow batches incrementally (no per-dir
  materialization of the full child list beyond the batch).
- no driver round-trip of row data: entries stay in executors; the driver
  only sees per-level counts (observed on the level's own job), never paths.
- lineage: each level is localCheckpoint()ed to keep the plan tree flat
  (a depth-30 tree would otherwise nest 30 unions of mapInPandas plans).
- the owner map is small (thousands of dirs) and travels in the kernel's
  closure, so the walk needs no second pass over its rows.

Semantics preserved from the reference:
- every entry (file, dir, symlink) is emitted, including excluded dirs
  (the exclusion filter gates *descent* only — storcrawl.py:466-473);
- symlinked dirs are emitted but never descended (follow_symlinks=False,
  storcrawl.py:465);
- lstat, never stat (symlinks are records themselves, storcrawl.py:434).

Deliberately fixed defect: on lstat failure the reference silently reuses
the previous record's stat struct (storcrawl.py:427-440); we emit NULL stat
columns instead.  The ``error`` string lives in ENTRY rows (fsmeta), not in
the crawls' ``files`` table.
"""

from __future__ import annotations

import os
from collections import deque
from stat import S_ISDIR, S_ISLNK
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, BooleanType, StringType, StructField, StructType

from storage_crawler_spark.functions.owners import find_owner
from storage_crawler_spark.functions.paths import find_extension
from storage_crawler_spark.schemas import ENTRY_SCHEMA

_BATCH_ROWS = 8192

# The most dirs one task adopts beyond its frontier dirs in deep mode (see
# scan_frontier_batches); equal to the default deep_batch_levels.
DIR_BUDGET = 256

# ENTRY_SCHEMA + the two path-derived columns both crawls emit.
# (Built as fresh StructTypes: StructType.add mutates in place.)
CRAWL_ROW_SCHEMA = StructType(
    list(ENTRY_SCHEMA.fields)
    + [StructField("extension", BinaryType()), StructField("owner", StringType())]
)

# CRAWL_ROW_SCHEMA + the internal descend flag (is_dir AND not excluded).
# The record's is_dir column is the REAL lstat answer — an excluded
# directory is still a directory (the exclusion contract gates descent
# only); the caller derives the next frontier from ``descend`` and drops
# the column.
CRAWL_DESCEND_SCHEMA = StructType(
    list(CRAWL_ROW_SCHEMA.fields) + [StructField("descend", BooleanType())]
)


def _stat_row(path: bytes, st) -> tuple:
    mode = st.st_mode
    return (
        path,
        S_ISDIR(mode),
        S_ISLNK(mode),
        int(mode),
        int(st.st_ino),
        int(st.st_dev),
        int(st.st_nlink),
        int(st.st_uid),
        int(st.st_gid),
        int(st.st_size),
        int(st.st_atime),  # truncation toward zero, as the reference does
        int(st.st_mtime),  # (storcrawl.py:368-370)
        int(st.st_ctime),
        None,
    )


def _error_row(path: bytes, exc: OSError) -> tuple:
    return (path, False, False) + (None,) * 10 + (str(exc),)


def lstat_row(path: bytes) -> tuple:
    """ENTRY_SCHEMA tuple for ``path`` from one lstat call."""
    try:
        return _stat_row(path, os.lstat(path))
    except OSError as exc:
        return _error_row(path, exc)


def dir_entry_row(entry: os.DirEntry) -> tuple:
    """ENTRY_SCHEMA tuple for a scandir entry (its cached lstat)."""
    path = os.fsencode(entry.path)
    try:
        return _stat_row(path, entry.stat(follow_symlinks=False))
    except OSError as exc:
        return _error_row(path, exc)


def _enrich(row: tuple, extension_length: int, owners: dict[bytes, str] | None) -> tuple:
    """ENTRY_SCHEMA tuple → CRAWL_ROW_SCHEMA tuple."""
    path = row[0]
    return row + (find_extension(path, extension_length), find_owner(path, owners))


def scan_frontier_batches(
    dir_paths: Iterator[pd.DataFrame],
    exclude_names: frozenset[bytes],
    levels_per_job: int = 1,
    extension_length: int = 6,
    owners: dict[bytes, str] | None = None,
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: for each frontier directory, scandir + lstat its
    children, yielding columnar batches of CRAWL_DESCEND_SCHEMA rows.

    ``is_dir`` is the real lstat answer (symlinks-to-dirs are False —
    follow_symlinks=False); ``descend`` additionally applies the exclusion
    list, so the caller derives the next frontier with a plain filter, no
    second pass, and excluded dirs still report is_dir=true in the output.

    ``levels_per_job`` > 1 engages IN-TASK descent (r14, the deep-chain
    fix): a chain-shaped tree puts ONE directory in each frontier, so the
    per-level driver round-trip (shuffle + materialize ≈ two Spark jobs)
    dominates a 10k-deep crawl by ~10,000×.  With k levels per job the
    task keeps a local BFS deque of (dir, rel_depth): a descendable child
    at rel depth < k is scanned in the SAME task (its row is emitted with
    descend=false — the driver must not re-scan it), while a child AT
    rel depth k is handed back with descend=true as next frontier.
    :data:`DIR_BUDGET` caps how many EXTRA directories one task adopts
    in-task (frontier dirs are driver-routed work and don't count), so a
    frontier that suddenly WIDENS (one dir fanning out to 100k) hands the
    fan-out back to the driver for repartitioning instead of serializing
    the subtree into one task — deep mode costs at most ``DIR_BUDGET``
    serial scandir calls where there was nothing to parallelize anyway.
    Routing is decided at enqueue time, so every emitted row's descend
    flag is final.
    """
    cols = [f.name for f in CRAWL_DESCEND_SCHEMA.fields]
    buf: list[tuple] = []

    for pdf in dir_paths:
        queue: deque[tuple[bytes, int]] = deque(
            (bytes(raw), 0) for raw in pdf["path"]
        )
        extra = 0  # in-task-adopted dirs, capped by DIR_BUDGET
        while queue:
            d, rel = queue.popleft()
            try:
                it = os.scandir(d)
            except OSError:
                # Unreadable dir: the dir row itself was emitted by the
                # parent's scan; the reference just logs and moves on
                # (storcrawl.py:463 try) — we do the same: skip.
                continue
            with it:
                for entry in it:
                    row = dir_entry_row(entry)
                    descend = row[1] and entry.name not in exclude_names
                    if descend and rel + 1 < levels_per_job and extra < DIR_BUDGET:
                        queue.append((row[0], rel + 1))
                        extra += 1
                        descend = False  # handled in-task; driver must not re-scan
                    buf.append(_enrich(row, extension_length, owners) + (descend,))
                    if len(buf) >= _BATCH_ROWS:
                        yield pd.DataFrame(buf, columns=cols)
                        buf = []
    if buf:
        yield pd.DataFrame(buf, columns=cols)


def expand_level(
    frontier: DataFrame,
    exclude_names: frozenset[bytes],
    parallelism: int,
    levels_per_job: int = 1,
    extension_length: int = 6,
    owners: dict[bytes, str] | None = None,
) -> DataFrame:
    """One frontier level → entries DataFrame (CRAWL_DESCEND_SCHEMA).
    ``levels_per_job`` > 1 lets each task descend that many levels in-task
    (deep-chain mode — see :func:`scan_frontier_batches`)."""
    n = max(1, parallelism)
    kernel = lambda it: scan_frontier_batches(  # noqa: E731
        it, exclude_names, levels_per_job, extension_length, owners
    )
    return frontier.repartition(n, F.col("path")).mapInPandas(kernel, CRAWL_DESCEND_SCHEMA)


def stat_roots(
    spark, roots: list[bytes], extension_length: int = 6, owners: dict[bytes, str] | None = None
) -> tuple[DataFrame, int]:
    """Stat the crawl roots themselves (the reference seeds roots into the
    dir queue, so root dirs appear as rows too once their parent is scanned —
    but roots have no parent in the crawl, so we stat them explicitly).
    Roots are always descended when they are real dirs: the reference's
    exclusion check applies to dirs FOUND during the walk, not to seeds.
    Also returns how many roots descend, so no job counts them."""
    recs = []
    for r in roots:
        row = lstat_row(r)
        recs.append(_enrich(row, extension_length, owners) + (row[1],))
    return spark.createDataFrame(recs, CRAWL_DESCEND_SCHEMA), sum(rec[-1] for rec in recs)


def stat_path_batches(
    pdfs: Iterator[pd.DataFrame], extension_length: int = 6, owners: dict[bytes, str] | None = None
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: lstat each path of a ``path`` column, no descent
    (the incremental crawl's landed paths); CRAWL_ROW_SCHEMA batches."""
    cols = [f.name for f in CRAWL_ROW_SCHEMA.fields]
    for pdf in pdfs:
        recs = [_enrich(lstat_row(bytes(raw)), extension_length, owners) for raw in pdf["path"]]
        yield pd.DataFrame(recs, columns=cols)
