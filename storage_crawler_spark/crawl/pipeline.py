"""Crawl orchestration: one walk job → files/status DataFrames.

Re-expresses the reference's begin_scan lifecycle (storcrawl.py:530-636):
queues/sentinels/locks are replaced by one Spark job.  The driver splits the
tree into subtrees (``walker.split``), the items are dealt into one bundle
per task, and one ``mapInPandas`` pass walks, stats and enriches them; its
output is localCheckpoint()ed once.  The nine lifecycle status events and
the counter snapshot metrics (storcrawl.py:491-528) are written to the
normalized status table; the summary aggregate (storcrawl.py:641) is an
``observe`` on the walk job, so it costs no extra job.

Every writer of a crawl table (this crawl, the incremental crawl, the
streaming listener) builds its rows with :func:`files_rows` and
:func:`status_rows`, so each table has one shape.
"""

from __future__ import annotations

import datetime as _dt
import json
import time as _time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from storage_crawler_spark.config import CrawlConfig
from storage_crawler_spark.crawl.walker import (
    BUNDLE_SCHEMA,
    SPLIT_PER_TASK,
    WALK_ROW_SCHEMA,
    split,
    walk_batches,
)
from storage_crawler_spark.functions.owners import parse_owners_file
from storage_crawler_spark.functions.paths import mode_bits_col
from storage_crawler_spark.schemas import FILES_SCHEMA, STATUS_SCHEMA


@dataclass
class CrawlResult:
    files: DataFrame
    status: DataFrame
    summary: dict = field(default_factory=dict)


def files_rows(entries: DataFrame, insert_time: _dt.datetime) -> DataFrame:
    """Walker rows (``walker.CRAWL_ROW_SCHEMA``) → ``FILES_SCHEMA`` rows: mode
    bits, an ``id`` unique within one write, ``insert_time`` and ``st_dev``
    as text.  A failed lstat shows as NULL stat columns.  ``insert_time`` is
    a literal, so it is the same on every action over the result.
    Batch-only (``monotonically_increasing_id``): the incremental crawl
    calls it on each micro-batch."""
    return entries.withColumns(
        {
            "id": F.monotonically_increasing_id(),
            "insert_time": F.lit(insert_time),
            "st_mode": mode_bits_col(F.col("st_mode_int")),
            "st_dev": F.col("st_dev").cast("string"),
        }
    ).select(FILES_SCHEMA.fieldNames())


def status_rows(
    spark: SparkSession, events: list[tuple[float, str, float | None, str | None]]
) -> DataFrame:
    """``(time, status, value, units)`` events, time in epoch seconds, →
    ``STATUS_SCHEMA`` rows: ids from 0 in list order (``lake.append_status``
    shifts them past a tag's ids) and the raw event as the JSON ``entry``."""
    rows = [
        (i, _dt.datetime.fromtimestamp(t, tz=_dt.timezone.utc), status, value, units,
         json.dumps({"time": t, "status": status, "value": value, "units": units}))
        for i, (t, status, value, units) in enumerate(events)
    ]
    return spark.createDataFrame(rows, STATUS_SCHEMA)


def crawl(spark: SparkSession, config: CrawlConfig) -> CrawlResult:
    """Run a crawl over ``config.dirs`` and return (files, status) DataFrames.

    The files DataFrame carries the full reference column set (§1.2):
    id, insert_time, path, extension, st_mode (bit-string), st_* fields,
    owner.  Persist with ``sources.write_crawl`` or the JDBC sink.
    """
    t0 = _time.time()
    status_log: list[tuple[float, str, float | None, str | None]] = []

    def event(status: str, value: float | None = None, units: str = "event") -> None:
        status_log.append((_time.time(), status, value, units))

    event("begin")

    owners = {}
    if config.owners:
        with open(config.owners, "r") as fh:
            owners = parse_owners_file(fh)

    exclude = frozenset(e.encode() if isinstance(e, str) else e for e in config.exclude)
    roots = [d.encode() if isinstance(d, str) else d for d in config.dirs]
    n = max(config.walkers, spark.sparkContext.defaultParallelism)

    for ev in ("walker started", "stater started", "dbproc started", "all processes spawned"):
        event(ev)

    # --- the walk: driver split, items dealt round-robin into n bundles (one
    # per task, no shuffle), one kernel job, one checkpoint.  The counts and
    # the deepest level come from an Observation on that job. ----------------
    t_walk = _time.time()
    items = split(roots, exclude, SPLIT_PER_TASK * n)
    bundles = [list(zip(*items[i::n])) for i in range(min(n, len(items)))]
    kernel = lambda it: walk_batches(it, exclude, config.extension_length, owners)  # noqa: E731
    obs = Observation("crawl")
    entries = (
        spark.createDataFrame(bundles, BUNDLE_SCHEMA)
        .mapInPandas(kernel, WALK_ROW_SCHEMA)
        .observe(
            obs,
            F.count(F.lit(1)).alias("file_count"),
            F.sum(F.col("st_size")).alias("total_size"),
            F.count_if(F.col("is_dir")).alias("dir_count"),
            F.max(F.col("level")).alias("depth"),
        )
        .drop("level")
        .localCheckpoint(eager=True)
    )
    walk_sec = max(_time.time() - t_walk, 1e-9)
    event("processed all dirs")
    event("processed all files")
    files = files_rows(entries, _dt.datetime.now(_dt.timezone.utc))
    event("processed all DB commits")

    elapsed = max(_time.time() - t0, 1e-9)
    got = obs.get
    file_count = int(got["file_count"] or 0)
    total_size = int(got["total_size"] or 0)
    dir_count = int(got["dir_count"] or 0)
    # metric snapshot in the reference's vocabulary (storcrawl.py:494-521).
    # The lstat calls run inside the walk, so the stat rate is the walk's
    # rate; the insert rate is over the whole crawl until the sink has a
    # timer of its own.
    event("files stated", float(file_count), "files")
    event("total files", float(file_count), "files")
    event("file metadata inserts", float(file_count), "inserts")
    event("file stat rate", file_count / walk_sec, "files/sec")
    event("file walk rate", file_count / walk_sec, "entries/sec")
    event("insert rate", file_count / elapsed, "inserts/sec")
    event("end")

    if config.logfile:
        from storage_crawler_spark.crawl.logsink import log_status_events, make_crawl_logger

        log_status_events(make_crawl_logger(config.logfile), status_log)

    summary = {
        "files": file_count,
        "dirs": dir_count,
        "total_tb": total_size / 1024**4,
        "elapsed_sec": elapsed,
        "walk_sec": walk_sec,
        "depth": int(got["depth"] or 0),
    }
    return CrawlResult(files=files, status=status_rows(spark, status_log), summary=summary)
