"""The walk: the one place a filesystem entry becomes a row, and the one
descent policy both the crawl and ``fsmeta`` use.

The reference runs N walker processes popping a shared dir queue
(``os.scandir`` per dir, re-enqueue child dirs, emit every entry) and N
stater processes calling lstat per path, building each record as
``(path, stat_result, extension, owner)`` in the stat stage
(storcrawl.py:326, 420-488).  The Spark-native shape splits the tree once
and walks it in one job:

- :func:`split` runs on the driver: a names-only breadth-first expansion
  from the roots until the frontier holds enough independent subtrees.  It
  returns work items, directory paths only; no file path crosses the driver.
- :func:`walk` runs in the tasks: each item emits the rows of its
  children, and a frontier item also walks the subtrees below them.
  scandir's ``DirEntry.stat(follow_symlinks=False)`` is the lstat, so
  listing and stat are one syscall pass with no inter-stage queue hop.

Row builders shared by every plane that stats entries:
- :func:`lstat_row` — one lstat call on a path (crawl roots, the
  incremental crawl's landed paths);
- :func:`dir_entry_row` — one scandir ``DirEntry`` (everything the walk
  finds below a root).
Both return an ENTRY_SCHEMA tuple with ``is_dir``/``is_symlink`` taken from
the lstat mode bits; the two crawls append extension and owner
(:data:`CRAWL_ROW_SCHEMA`), fsmeta emits ENTRY_SCHEMA as is.

Scale properties:
- work distribution: the driver's split costs one names-only scandir per
  expanded dir, at most :data:`MAX_DRIVER_SCANS`, and stops once the
  frontier holds :data:`SPLIT_PER_TASK` subtrees per task; a chain-shaped
  tree is expanded level by level on the driver, so its levels spread over
  the tasks too.  Items are dealt round-robin into one bundle per task, so
  per-task Python start-up is paid once per core, not once per subtree.
  A single giant directory is one item: scandir streams it and the kernel
  yields Arrow batches incrementally.
- no driver round-trip of row data: entries stay in executors; the driver
  sees the job's counts (an Observation), never paths.
- the owner map is small (thousands of dirs) and travels in the kernel's
  closure, so the walk needs no second pass over its rows.

Semantics preserved from the reference:
- every entry (file, dir, symlink) is emitted, including excluded dirs
  (the exclusion filter gates *descent* only — storcrawl.py:466-473);
  a root is walked whenever it is a real directory, even if its name is
  excluded (the reference checks the dirs it finds, not its seeds);
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
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from storage_crawler_spark.functions.owners import find_owner
from storage_crawler_spark.functions.paths import find_extension
from storage_crawler_spark.schemas import ENTRY_SCHEMA

_BATCH_ROWS = 8192

# The crawl's split target, in frontier subtrees per walk task.  Targets
# of 1-16 crawled a 20k, a 200k and a skewed tree equally fast within noise
# on 4 cores; the finer split deals subtrees more evenly over the tasks.
SPLIT_PER_TASK = 16

# The most names-only scandirs the driver spends on a split.
MAX_DRIVER_SCANS = 4096

# One unit of walk work: ``(path, deep, level)``, ``level`` being path's
# depth below its crawl root.  ``deep`` None: the root's own lstat row;
# False: the rows of path's children; True: those and everything below
# the children that are descendable dirs.
Item = tuple[bytes, bool | None, int]

# ENTRY_SCHEMA + the two path-derived columns both crawls emit.
# (Built as fresh StructTypes: StructType.add mutates in place.)
CRAWL_ROW_SCHEMA = StructType(
    list(ENTRY_SCHEMA.fields)
    + [StructField("extension", BinaryType()), StructField("owner", StringType())]
)

# The crawl kernel's rows: CRAWL_ROW_SCHEMA + the entry's depth below its
# root, which the crawl observes and drops.
WALK_ROW_SCHEMA = StructType(list(CRAWL_ROW_SCHEMA.fields) + [StructField("level", IntegerType())])

# One bundle of items per crawl task, as parallel arrays.
BUNDLE_SCHEMA = StructType(
    [
        StructField("path", ArrayType(BinaryType(), False)),
        StructField("deep", ArrayType(BooleanType())),
        StructField("level", ArrayType(IntegerType(), False)),
    ]
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


def split(
    roots: list[bytes], exclude: frozenset[bytes], target: int, max_scans: int = MAX_DRIVER_SCANS
) -> list[Item]:
    """Driver side: the work items of a walk over ``roots``.

    Breadth-first from the roots, each expanded dir costs one scandir that
    reads names and d_type only, and becomes a ``deep=False`` item (a task
    re-lists it to emit its children's rows).  Expansion stops when the
    frontier holds ``target`` dirs, after ``max_scans`` scandirs, or when
    the tree is exhausted; what is left on the frontier becomes
    ``deep=True`` items.  Every root is an item of its own row."""
    items: list[Item] = [(r, None, 0) for r in roots]
    frontier = deque((r, 0) for r in roots if lstat_row(r)[1])
    scans = 0
    while frontier and len(frontier) < target and scans < max_scans:
        d, level = frontier.popleft()
        scans += 1
        items.append((d, False, level))
        try:
            it = os.scandir(d)
        except OSError:
            continue  # its task meets the same error and skips it
        with it:
            for entry in it:
                try:
                    real_dir = entry.is_dir(follow_symlinks=False)
                except OSError:
                    real_dir = False
                if real_dir and entry.name not in exclude:
                    frontier.append((entry.path, level + 1))
    items.extend((d, True, level) for d, level in frontier)
    return items


def walk(items: Iterable[Item], exclude: frozenset[bytes]) -> Iterator[tuple[int, tuple]]:
    """Task side: ``(level, ENTRY_SCHEMA row)`` for every entry the items
    cover (see :data:`Item`).  A deep item descends every real directory
    whose name is not in ``exclude``; symlinks are never followed."""
    for path, deep, level in items:
        if deep is None:
            yield level, lstat_row(path)
            continue
        stack = [(path, level)]
        while stack:
            d, lv = stack.pop()
            try:
                it = os.scandir(d)
            except OSError:
                # Unreadable dir: its own row came from its parent's scan;
                # the reference logs and moves on (storcrawl.py:463).
                continue
            with it:
                for entry in it:
                    row = dir_entry_row(entry)
                    yield lv + 1, row
                    if deep and row[1] and entry.name not in exclude:
                        stack.append((row[0], lv + 1))


def walk_batches(
    bundles: Iterator[pd.DataFrame],
    exclude: frozenset[bytes],
    extension_length: int = 6,
    owners: dict[bytes, str] | None = None,
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: walk each BUNDLE_SCHEMA row's items, yielding
    WALK_ROW_SCHEMA batches (extension and owner derived in the walk)."""
    cols = WALK_ROW_SCHEMA.fieldNames()
    buf: list[tuple] = []
    for pdf in bundles:
        for paths, deeps, levels in zip(pdf["path"], pdf["deep"], pdf["level"]):
            for level, row in walk(zip(map(bytes, paths), deeps, levels), exclude):
                buf.append(_enrich(row, extension_length, owners) + (level,))
                if len(buf) >= _BATCH_ROWS:
                    yield pd.DataFrame(buf, columns=cols)
                    buf = []
    if buf:
        yield pd.DataFrame(buf, columns=cols)


def stat_path_batches(
    pdfs: Iterator[pd.DataFrame], extension_length: int = 6, owners: dict[bytes, str] | None = None
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: lstat each path of a ``path`` column, no descent
    (the incremental crawl's landed paths); CRAWL_ROW_SCHEMA batches."""
    cols = [f.name for f in CRAWL_ROW_SCHEMA.fields]
    for pdf in pdfs:
        recs = [_enrich(lstat_row(bytes(raw)), extension_length, owners) for raw in pdf["path"]]
        yield pd.DataFrame(recs, columns=cols)
