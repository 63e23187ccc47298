"""``fsmeta``: filesystem metadata as a first-class Spark table.

SURVEY.md §4.2 flags one place where a *custom* pushdown pays off in this
engine: predicates on stat columns evaluated inside the listing/stat stage
itself, so filtered-out entries never cross the Python→JVM Arrow boundary.
This module implements that as a Spark 4 Python Data Source
(``pyspark.sql.datasource``), the DataSourceV2-equivalent public API:

    from storage_crawler_spark.sources.fsmeta import register_fsmeta
    register_fsmeta(spark)
    df = spark.read.format("fsmeta").load("/data")          # ENTRY_SCHEMA
    df.filter("st_size >= 1048576 AND st_mtime >= 1700000000")

    # incremental crawl: each micro-batch emits entries modified since the
    # last checkpointed mtime watermark (FsMetaStreamReader below)
    spark.readStream.format("fsmeta").load("/data") \
        .writeStream.format("parquet").option("path", lake) \
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()

Scale design (the part that must survive 1000 executors):

- **Partitioning**: the driver does a *names-only* breadth-first expansion of
  the root until it holds enough independent subtrees (≥ ``partitions``
  option, default 64), then hands each reader task a bundle of subtree roots
  (round-robin by discovery order) plus the loose files found on the spine.
  Deep-but-narrow trees stop expanding early (frontier exhausted) and
  degenerate to few partitions — exactly the available parallelism; wide
  trees (the 100 TB case: millions of dirs) cap driver work at
  ``max_driver_scans`` scandirs and fan the rest out.
- **Filter pushdown** (``pushFilters``, Spark 4.1): comparisons against the
  numeric stat columns and equality on ``is_dir``/``is_symlink`` are applied
  per-entry inside ``read()``; everything else is left for Spark.  Consumed
  filters are reported back to Catalyst so ``explain()`` shows them pushed.
- **Arrow batches**: ``read()`` yields ``pyarrow.RecordBatch`` (not per-row
  tuples), so transfer is columnar regardless of selectivity.

Reference parity: one row per entry — files, dirs, symlinks (storcrawl.py:473);
``lstat`` never follows symlinks (storcrawl.py:434); excluded dir names are
emitted but not descended (storcrawl.py:466-473); lstat failure yields NULL
stat columns + ``error`` (the reference's stale-struct defect, fixed —
storcrawl.py:427-440).  Rows come from the crawl walker's row builders
(``walker.lstat_row`` / ``walker.dir_entry_row``), so both planes stat an
entry the same way.  Schema is the crawl plane's ENTRY_SCHEMA, so
``functions.paths.extension_col`` / ``owners.owner_col`` compose on top
unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from storage_crawler_spark.crawl.walker import dir_entry_row, lstat_row
from storage_crawler_spark.schemas import ENTRY_SCHEMA

_ARROW_SCHEMA = to_arrow_schema(ENTRY_SCHEMA)

_COL_IDX = {f.name: i for i, f in enumerate(ENTRY_SCHEMA.fields)}

# Columns whose predicates we evaluate inside the scan.  All are populated
# straight from lstat, so evaluation is a tuple index + compare.
_PUSHABLE_NUM = frozenset(
    {"st_mode_int", "st_ino", "st_dev", "st_nlink", "st_uid", "st_gid",
     "st_size", "st_atime", "st_mtime", "st_ctime"}
)
_PUSHABLE_BOOL = frozenset({"is_dir", "is_symlink"})

_BATCH_ROWS = 4096


@dataclass
class _Subtrees(InputPartition):
    """One reader task: recursively walk ``walk_roots`` (emitting each root's
    own row first) and lstat ``stat_only`` paths without descending."""

    walk_roots: list[bytes]
    stat_only: list[bytes]


def _descendable(row: tuple, exclude: frozenset[bytes]) -> bool:
    """A real (lstat) directory whose name is not excluded."""
    return row[1] and os.path.basename(row[0]) not in exclude


class FsMetaReader(DataSourceReader):
    def __init__(self, options: dict):
        root = options.get("path")
        if not root:
            raise ValueError("fsmeta: a load path is required, e.g. spark.read.format('fsmeta').load('/data')")
        self.root: bytes = os.fsencode(root)
        self.exclude: frozenset[bytes] = frozenset(
            e.encode() for e in options.get("exclude", ".snapshot").split(",") if e
        )
        self.target_partitions = int(options.get("partitions", "64"))
        self.max_driver_scans = int(options.get("max_driver_scans", "4096"))
        self.pushed: list[tuple[str, str, object]] = []  # (col, op, value)

    # -- pushdown ----------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            consumed = False
            if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)):
                col = f.attribute[-1] if len(f.attribute) == 1 else None
                if col in _PUSHABLE_NUM and isinstance(f.value, (int, float)) and not isinstance(f.value, bool):
                    self.pushed.append((col, type(f).__name__, f.value))
                    consumed = True
                elif col in _PUSHABLE_BOOL and isinstance(f.value, bool) and isinstance(f, EqualTo):
                    self.pushed.append((col, "EqualTo", f.value))
                    consumed = True
            elif isinstance(f, IsNotNull):
                col = f.attribute[-1] if len(f.attribute) == 1 else None
                if col in _PUSHABLE_NUM:
                    self.pushed.append((col, "IsNotNull", None))
                    consumed = True
            if not consumed:
                yield f

    def _row_pred(self):
        if not self.pushed:
            return None
        ops = {
            "EqualTo": lambda a, b: a == b,
            "GreaterThan": lambda a, b: a > b,
            "GreaterThanOrEqual": lambda a, b: a >= b,
            "LessThan": lambda a, b: a < b,
            "LessThanOrEqual": lambda a, b: a <= b,
            "IsNotNull": lambda a, b: True,  # null handled below
        }
        compiled = [(_COL_IDX[c], ops[op], v) for c, op, v in self.pushed]

        def pred(rec: tuple) -> bool:
            for idx, op, val in compiled:
                cell = rec[idx]
                if cell is None:
                    return False  # comparisons and IsNotNull all reject NULL
                if not op(cell, val):
                    return False
            return True

        return pred

    # -- planning ----------------------------------------------------------
    def partitions(self) -> list[InputPartition]:
        """Names-only BFS split of the tree into independent subtrees.

        The driver never lstats children (only scandir d_type checks), so
        planning cost is one scandir per expanded dir, capped by
        ``max_driver_scans``.
        """
        descend = _descendable(lstat_row(self.root), self.exclude)
        stat_only: list[bytes] = [self.root] if not descend else []
        frontier: list[bytes] = [self.root] if descend else []
        subtree_roots: list[bytes] = []
        scans = 0
        while frontier and len(frontier) + len(subtree_roots) < self.target_partitions and scans < self.max_driver_scans:
            d = frontier.pop(0)
            scans += 1
            try:
                it = os.scandir(d)
            except OSError:
                stat_only.append(d)  # unreadable: still gets its error row
                continue
            # d was consumed by the spine, so no subtree walk will emit its
            # row — stat it (without descending) like any other loose entry.
            stat_only.append(d)
            with it:
                for entry in it:
                    epath = os.fsencode(entry.path)
                    try:
                        is_real_dir = entry.is_dir(follow_symlinks=False)
                    except OSError:
                        is_real_dir = False
                    if is_real_dir and os.path.basename(epath) not in self.exclude:
                        frontier.append(epath)
                    else:
                        stat_only.append(epath)
        subtree_roots.extend(frontier)

        n = max(1, min(self.target_partitions, len(subtree_roots) + (1 if stat_only else 0)))
        bundles: list[list[bytes]] = [[] for _ in range(n)]
        for i, r in enumerate(subtree_roots):
            bundles[i % n].append(r)
        parts = [_Subtrees(walk_roots=b, stat_only=[]) for b in bundles if b]
        if stat_only or not parts:
            if parts:
                parts[0].stat_only = stat_only
            else:
                parts = [_Subtrees(walk_roots=[], stat_only=stat_only)]
        return parts

    # -- execution ---------------------------------------------------------
    def read(self, partition: _Subtrees) -> Iterator[pa.RecordBatch]:
        pred = self._row_pred()
        buf: list[tuple] = []

        def emit(rec: tuple):
            if pred is None or pred(rec):
                buf.append(rec)

        def flush():
            cols = list(zip(*buf)) if buf else [[] for _ in _ARROW_SCHEMA]
            arrays = [pa.array(c, type=f.type) for c, f in zip(cols, _ARROW_SCHEMA)]
            return pa.RecordBatch.from_arrays(arrays, schema=_ARROW_SCHEMA)

        for p in partition.stat_only:
            emit(lstat_row(p))
        for root in partition.walk_roots:
            rec = lstat_row(root)
            emit(rec)
            stack = [root] if _descendable(rec, self.exclude) else []
            while stack:
                d = stack.pop()
                try:
                    it = os.scandir(d)
                except OSError:
                    continue  # reference behavior: log-and-skip (storcrawl.py:463)
                with it:
                    for entry in it:
                        rec = dir_entry_row(entry)
                        emit(rec)
                        if _descendable(rec, self.exclude):
                            stack.append(rec[0])
                        if len(buf) >= _BATCH_ROWS:
                            yield flush()
                            buf = []
        if buf:
            yield flush()


class FsMetaStreamReader(DataSourceStreamReader):
    """Incremental crawl as a streaming source: each micro-batch emits the
    entries whose ``st_mtime`` falls in ``[start, end)`` epoch seconds.

    The offset is a **modification-time watermark** (one wall-clock second,
    JSON ``{"mtime": N}``): ``latestOffset`` advances it to *now* at batch
    planning; ``partitions(start, end)`` reuses the batch reader's BFS
    subtree split so the listing itself fans out across executors; and
    ``read`` walks its subtrees applying the window as a pushed predicate.
    Combined with checkpointing (``writeStream.option("checkpointLocation",
    …)``) this is exactly-once *per mtime window*: a batch that fails replays
    the same [start, end) window.

    Inherent mtime-watermark caveats (no change journal on a plain
    filesystem): each batch re-lists the tree (detection is O(entries), only
    *emission* is incremental), and files landed with an old preserved mtime
    (``cp -p`` from elsewhere) fall before the watermark and are missed —
    the same contract as rsync-style mtime syncing.  The first batch
    (initialOffset mtime 0) emits everything.

    ``latestOffset`` holds the watermark back by ``slack_s`` seconds
    (default 2): a window is only closed once the filesystem can no longer
    stamp an entry inside it.  Without the slack, a file written during the
    current second *after* its directory was scanned has mtime < the next
    window's start and is silently lost forever.  The cost is ``slack_s`` of
    detection latency per entry; set ``slack_s`` higher on filesystems whose
    clocks may trail the driver's (NFS), never below the driver↔fs clock
    skew.
    """

    def __init__(self, options: dict):
        self._batch = FsMetaReader(options)
        self._start_mtime = int(options.get("start_mtime", "0"))
        self._slack_s = max(0, int(options.get("slack_s", "2")))

    def initialOffset(self) -> dict:
        return {"mtime": self._start_mtime}

    def latestOffset(self) -> dict:
        import time as _time

        # +1 would include files stamped this second — but those can still be
        # racing the scan; close the window slack_s seconds in the past.
        return {"mtime": int(_time.time()) + 1 - self._slack_s}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        if start["mtime"] >= end["mtime"]:
            return []
        return [
            _SubtreesWindow(
                walk_roots=p.walk_roots,
                stat_only=p.stat_only,
                mtime_lo=start["mtime"],
                mtime_hi=end["mtime"],
            )
            for p in self._batch.partitions()
        ]

    def read(self, partition: "_SubtreesWindow") -> Iterator[pa.RecordBatch]:
        reader = FsMetaReader.__new__(FsMetaReader)
        reader.__dict__.update(self._batch.__dict__)
        reader.pushed = list(self._batch.pushed) + [
            ("st_mtime", "GreaterThanOrEqual", partition.mtime_lo),
            ("st_mtime", "LessThan", partition.mtime_hi),
        ]
        return reader.read(partition)

    def commit(self, end: dict) -> None:
        pass  # offset tracking lives in the checkpoint; nothing to clean up


@dataclass
class _SubtreesWindow(_Subtrees):
    mtime_lo: int = 0
    mtime_hi: int = 2**62


class FsMetaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fsmeta"

    def schema(self) -> StructType:
        return ENTRY_SCHEMA

    def reader(self, schema: StructType) -> FsMetaReader:
        return FsMetaReader(self.options)

    def streamReader(self, schema: StructType) -> FsMetaStreamReader:
        return FsMetaStreamReader(self.options)


def register_fsmeta(spark) -> None:
    # Runtime conf: a session built elsewhere (the correctness driver's, a
    # notebook's) won't have it; without it Spark refuses any reader that
    # implements pushFilters.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(FsMetaDataSource)
