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

- **Partitioning**: the crawl's own split (``walker.split``): a
  *names-only* breadth-first expansion of the root on the driver until it
  holds enough independent subtrees (``partitions`` option, default 64),
  capped at ``max_driver_scans`` scandirs (the 100 TB case: millions of
  dirs).  Its items — directory paths only — are dealt round-robin into at
  most ``partitions`` reader tasks, and each task runs the crawl's
  ``walker.walk`` over its bundle.
- **Filter pushdown** (``pushFilters``, Spark 4.1): comparisons against the
  numeric stat columns and equality on ``is_dir``/``is_symlink`` are applied
  per-entry inside ``read()``; everything else is left for Spark.  Consumed
  filters are reported back to Catalyst so ``explain()`` shows them pushed.
- **Arrow batches**: ``read()`` yields ``pyarrow.RecordBatch`` (not per-row
  tuples), so transfer is columnar regardless of selectivity.

Reference parity: one row per entry — files, dirs, symlinks (storcrawl.py:473);
``lstat`` never follows symlinks (storcrawl.py:434); excluded dir names are
emitted but not descended (storcrawl.py:466-473), and the root is walked
even when its name is excluded; lstat failure yields NULL stat columns +
``error`` (the reference's stale-struct defect, fixed —
storcrawl.py:427-440).  The walk is the crawl's (``walker.split`` /
``walker.walk``), so both planes find and stat an entry the same way.  Schema is the crawl plane's ENTRY_SCHEMA, so
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

from storage_crawler_spark.crawl.walker import MAX_DRIVER_SCANS, Item, split, walk
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
class _Bundle(InputPartition):
    """One reader task: the ``walker.walk`` items it covers."""

    items: list[Item]


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
        self.max_driver_scans = int(options.get("max_driver_scans", str(MAX_DRIVER_SCANS)))
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
        """``walker.split`` of the tree, dealt round-robin into at most
        ``partitions`` bundles.  The driver never lstats a child (scandir
        d_type checks only), so planning costs one scandir per expanded
        dir, capped by ``max_driver_scans``."""
        items = split([self.root], self.exclude, self.target_partitions, self.max_driver_scans)
        n = max(1, min(self.target_partitions, len(items)))
        return [_Bundle(items[i::n]) for i in range(n)]

    # -- execution ---------------------------------------------------------
    def read(self, partition: _Bundle) -> Iterator[pa.RecordBatch]:
        pred = self._row_pred()
        buf: list[tuple] = []

        def flush():
            cols = list(zip(*buf)) if buf else [[] for _ in _ARROW_SCHEMA]
            arrays = [pa.array(c, type=f.type) for c, f in zip(cols, _ARROW_SCHEMA)]
            return pa.RecordBatch.from_arrays(arrays, schema=_ARROW_SCHEMA)

        for _, rec in walk(partition.items, self.exclude):
            if pred is None or pred(rec):
                buf.append(rec)
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
    planning; ``partitions(start, end)`` reuses the batch reader's split so
    the listing itself fans out across executors; and ``read`` walks its
    bundle applying the window as a pushed predicate.
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
            _BundleWindow(items=p.items, mtime_lo=start["mtime"], mtime_hi=end["mtime"])
            for p in self._batch.partitions()
        ]

    def read(self, partition: "_BundleWindow") -> Iterator[pa.RecordBatch]:
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
class _BundleWindow(_Bundle):
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
