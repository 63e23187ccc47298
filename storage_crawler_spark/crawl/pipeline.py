"""Crawl orchestration: frontier loop → files/status DataFrames.

Re-expresses the reference's begin_scan lifecycle (storcrawl.py:530-636):
queues/sentinels/locks are replaced by Spark's DAG; the nine lifecycle
status events and the counter snapshot metrics (storcrawl.py:491-528) are
written to the normalized status table; the summary aggregate
(storcrawl.py:641) is a single count/sum pass via ``observe`` so it costs no
extra job.

Every writer of a crawl table (this crawl, the incremental crawl, the
streaming listener) builds its rows with :func:`files_rows` and
:func:`status_rows`, so each table has one shape.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time as _time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from storage_crawler_spark.config import CrawlConfig
from storage_crawler_spark.crawl.walker import expand_level, stat_roots
from storage_crawler_spark.functions.owners import parse_owners_file
from storage_crawler_spark.functions.paths import mode_bits_col
from storage_crawler_spark.schemas import FILES_SCHEMA, STATUS_SCHEMA

# Loop guard against pathological nesting (bind-mount loops; symlinks are
# never followed); PATH_MAX (~2000 levels of 1-char names) binds first.
MAX_DEPTH = 65536


@dataclass
class CrawlResult:
    files: DataFrame
    status: DataFrame
    summary: dict = field(default_factory=dict)


def files_rows(entries: DataFrame) -> DataFrame:
    """Walker rows (``walker.CRAWL_ROW_SCHEMA``) → ``FILES_SCHEMA`` rows: mode
    bits, an ``id`` unique within one write, ``insert_time`` and ``st_dev``
    as text.  A failed lstat shows as NULL stat columns.  Batch-only
    (``monotonically_increasing_id``): the incremental crawl calls it on
    each micro-batch."""
    return entries.withColumns(
        {
            "id": F.monotonically_increasing_id(),
            "insert_time": F.current_timestamp(),
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


def _materialize(spark: SparkSession, df: DataFrame, config: CrawlConfig, name: str) -> DataFrame:
    """Cut lineage + materialize one crawl stage.

    Default: ``localCheckpoint`` — fastest, but blocks pin executor storage
    and vanish with the executor.  With ``config.level_store`` set, the
    stage is written to parquet under the store and re-read: heap-free,
    executor-loss-safe, and each level doubles as a resumable artifact.
    """
    if config.level_store:
        path = os.path.join(config.level_store, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    return df.localCheckpoint(eager=True)


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
    parallelism = max(config.walkers, spark.sparkContext.defaultParallelism)

    for ev in ("walker started", "stater started", "dbproc started", "all processes spawned"):
        event(ev)

    # --- frontier loop -----------------------------------------------------
    # ``descend`` (is_dir AND not excluded) drives the frontier; the emitted
    # is_dir column stays the real lstat answer for excluded dirs too.  The
    # frontier sizes cost no job: the roots are counted on the driver, and
    # each level's next frontier by an Observation on its materialize job.
    t_walk = _time.time()
    entries, dir_total = stat_roots(spark, roots, config.extension_length, owners)
    frontier = entries.filter(F.col("descend")).select("path")
    levels = [entries.drop("descend")]
    depth = 0
    while dir_total > 0 and depth < MAX_DEPTH:
        # Chain-shaped frontier (fewer dirs than workers): descend up to
        # deep_batch_levels levels inside the tasks — a 10k-deep chain
        # costs ~10k/deep_batch_levels driver round-trips instead of 10k
        # (see walker.scan_frontier_batches).  Wide frontiers keep strict
        # per-level BFS for repartitioned work distribution.  ``depth``
        # counts levels CONSUMED from the bound, which may overshoot the
        # deepest level actually walked by up to k-1 in the final batch.
        k = 1
        if dir_total < parallelism and config.deep_batch_levels > 1:
            k = max(1, min(config.deep_batch_levels, MAX_DEPTH - depth))
        level = expand_level(
            frontier, exclude, parallelism,
            levels_per_job=k, extension_length=config.extension_length, owners=owners,
        )
        # Flatten lineage: each level's plan is materialized so a deep tree
        # doesn't nest N mapInPandas stages into one giant plan.
        obs = Observation()
        level = level.observe(obs, F.count_if(F.col("descend")).alias("dirs"))
        level = _materialize(spark, level, config, f"level_{depth:05d}")
        levels.append(level.drop("descend"))
        frontier = level.filter(F.col("descend")).select("path")
        dir_total = obs.get["dirs"]
        depth += k
    walk_sec = max(_time.time() - t_walk, 1e-9)
    event("processed all dirs")

    all_entries = levels[0]
    for lv in levels[1:]:
        all_entries = all_entries.unionByName(lv)

    # --- files stage (mode bits, id, insert_time; extension and owner came
    # out of the walker kernel) ----------------------------------------------
    t_stat = _time.time()
    obs = Observation("crawl")
    observed = all_entries.observe(
        obs,
        F.count(F.lit(1)).alias("file_count"),
        F.sum(F.col("st_size")).alias("total_size"),
        F.count_if(F.col("is_dir")).alias("dir_count"),
    )
    event("processed all files")

    # Materialize once so counters are real and downstream reads are cheap.
    files = _materialize(spark, files_rows(observed), config, "files_stage")
    stat_sec = max(_time.time() - t_stat, 1e-9)
    event("processed all DB commits")

    elapsed = max(_time.time() - t0, 1e-9)
    got = obs.get
    file_count = int(got["file_count"] or 0)
    total_size = int(got["total_size"] or 0)
    dir_count = int(got["dir_count"] or 0)
    # metric snapshot in the reference's vocabulary (storcrawl.py:494-521);
    # walk and stat rates over their own stage (storcrawl.py:503-505), the
    # insert rate over the whole crawl until the sink has a timer of its own.
    # The lstat calls, extension and owner all run inside the walk (the fused
    # scandir kernel; the roots are stat'ed on the driver by stat_roots), so
    # "file stat rate" times only the files_stage materialize (mode bits, id,
    # insert_time), the stage that stands where the reference's stater pool
    # does.
    event("files stated", float(file_count), "files")
    event("total files", float(file_count), "files")
    event("file metadata inserts", float(file_count), "inserts")
    event("file stat rate", file_count / stat_sec, "files/sec")
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
        "stat_sec": stat_sec,
        "depth": depth,
    }
    return CrawlResult(files=files, status=status_rows(spark, status_log), summary=summary)
