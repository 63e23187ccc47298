"""Crawl orchestration: frontier loop → files/status DataFrames.

Re-expresses the reference's begin_scan lifecycle (storcrawl.py:530-636):
queues/sentinels/locks are replaced by Spark's DAG; the nine lifecycle
status events and the counter snapshot metrics (storcrawl.py:491-528) are
written to the normalized status table; the summary aggregate
(storcrawl.py:641) is a single count/sum pass via ``observe`` so it costs no
extra job.
"""

from __future__ import annotations

import datetime as _dt
import json
import time as _time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from storage_crawler_spark.config import CrawlConfig
from storage_crawler_spark.crawl.walker import expand_level, stat_roots
from storage_crawler_spark.functions.owners import parse_owners_file
from storage_crawler_spark.functions.paths import mode_bits_col
from storage_crawler_spark.schemas import STATUS_SCHEMA

# Lifecycle events of the reference crawl (storcrawl.py:575-629).
EVENTS = (
    "begin",
    "walker started",
    "stater started",
    "dbproc started",
    "all processes spawned",
    "processed all dirs",
    "processed all files",
    "processed all DB commits",
    "end",
)


@dataclass
class CrawlResult:
    files: DataFrame
    status: DataFrame
    summary: dict = field(default_factory=dict)


def _status_rows(events: list[tuple[str, float | None, str | None]]):
    now = _dt.datetime.now(tz=_dt.timezone.utc)
    rows = []
    for i, (status, value, units) in enumerate(events):
        rows.append(
            (
                i,
                now,
                status,
                value,
                units,
                json.dumps({"time": now.timestamp(), "status": status, "value": value, "units": units}),
            )
        )
    return rows


def _materialize(spark: SparkSession, df: DataFrame, config: CrawlConfig, name: str) -> DataFrame:
    """Cut lineage + materialize one crawl stage.

    Default: ``localCheckpoint`` — fastest, but blocks pin executor storage
    and vanish with the executor.  With ``config.level_store`` set, the
    stage is written to parquet under the store and re-read: heap-free,
    executor-loss-safe, and each level doubles as a resumable artifact.
    """
    if config.level_store:
        import os

        path = os.path.join(config.level_store, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    return df.localCheckpoint(eager=True)


def crawl(spark: SparkSession, config: CrawlConfig) -> CrawlResult:
    """Run a crawl over ``config.dirs`` and return (files, status) DataFrames.

    The files DataFrame carries the full reference column set (§1.2):
    id, insert_time, path, extension, st_mode (bit-string), st_* fields,
    owner.  Persist with ``files.write.parquet(...)`` or the JDBC sink.
    """
    t0 = _time.time()
    status_log: list[tuple[str, float | None, str | None]] = [("begin", None, "event")]

    owners = {}
    if config.owners:
        with open(config.owners, "r") as fh:
            owners = parse_owners_file(fh)

    exclude = frozenset(e.encode() if isinstance(e, str) else e for e in config.exclude)
    roots = [d.encode() if isinstance(d, str) else d for d in config.dirs]
    parallelism = max(config.walkers, spark.sparkContext.defaultParallelism)

    for ev in ("walker started", "stater started", "dbproc started", "all processes spawned"):
        status_log.append((ev, None, "event"))

    # --- frontier loop -----------------------------------------------------
    # ``descend`` (is_dir AND not excluded) drives the frontier; the emitted
    # is_dir column stays the real lstat answer for excluded dirs too.
    t_walk = _time.time()
    entries = stat_roots(spark, roots, config.extension_length, owners)
    frontier = entries.filter(F.col("descend")).select("path")
    levels = [entries.drop("descend")]
    depth = 0
    dir_total = frontier.count()
    while dir_total > 0 and depth < config.max_depth:
        # Chain-shaped frontier (fewer dirs than workers): descend up to
        # deep_batch_levels levels inside the tasks — a 10k-deep chain
        # costs ~10k/deep_batch_levels driver round-trips instead of 10k
        # (see walker.scan_frontier_batches).  Wide frontiers keep strict
        # per-level BFS for repartitioned work distribution.  ``depth``
        # counts levels CONSUMED from the bound, which may overshoot the
        # deepest level actually walked by up to k-1 in the final batch.
        k = 1
        if dir_total < parallelism and config.deep_batch_levels > 1:
            k = max(1, min(config.deep_batch_levels, config.max_depth - depth))
        level = expand_level(
            frontier, exclude, parallelism,
            levels_per_job=k, dir_budget=config.deep_dir_budget,
            extension_length=config.extension_length, owners=owners,
        )
        # Flatten lineage: each level's plan is materialized so a deep tree
        # doesn't nest N mapInPandas stages into one giant plan.
        level = _materialize(spark, level, config, f"level_{depth:05d}")
        levels.append(level.drop("descend"))
        frontier = level.filter(F.col("descend")).select("path")
        dir_total = frontier.count()
        depth += k
    walk_sec = max(_time.time() - t_walk, 1e-9)
    status_log.append(("processed all dirs", None, "event"))

    all_entries = levels[0]
    for lv in levels[1:]:
        all_entries = all_entries.unionByName(lv)

    # --- files stage (mode bits, id, insert_time; extension and owner came
    # out of the walker kernel) ----------------------------------------------
    t_stat = _time.time()
    obs = Observation("crawl")
    enriched = (
        all_entries.withColumn("st_mode", mode_bits_col(F.col("st_mode_int")))
        .withColumn("id", F.monotonically_increasing_id())
        .withColumn("insert_time", F.current_timestamp())
        .withColumn("st_dev", F.col("st_dev").cast("string"))
    )
    enriched = enriched.observe(
        obs,
        F.count(F.lit(1)).alias("file_count"),
        F.sum(F.col("st_size")).alias("total_size"),
        F.sum(F.when(F.col("is_dir") | F.col("st_mode_int").bitwiseAND(0o170000).eqNullSafe(0o040000), 1).otherwise(0)).alias("dir_count"),
    )
    files = enriched.select(
        "id",
        "insert_time",
        "path",
        "extension",
        "st_mode",
        "st_ino",
        "st_dev",
        "st_nlink",
        "st_uid",
        "st_gid",
        "st_size",
        "st_atime",
        "st_mtime",
        "st_ctime",
        "owner",
    )
    status_log.append(("processed all files", None, "event"))

    # Materialize once so counters are real and downstream reads are cheap.
    files = _materialize(spark, files, config, "files_stage")
    stat_sec = max(_time.time() - t_stat, 1e-9)
    status_log.append(("processed all DB commits", None, "event"))

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
    status_log.extend(
        [
            ("files stated", float(file_count), "files"),
            ("total files", float(file_count), "files"),
            ("file metadata inserts", float(file_count), "inserts"),
            ("file stat rate", file_count / stat_sec, "files/sec"),
            ("file walk rate", file_count / walk_sec, "entries/sec"),
            ("insert rate", file_count / elapsed, "inserts/sec"),
        ]
    )
    status_log.append(("end", None, "event"))

    if config.logfile:
        from storage_crawler_spark.crawl.logsink import log_status_events, make_crawl_logger

        log_status_events(make_crawl_logger(config.logfile), status_log)

    status = spark.createDataFrame(_status_rows(status_log), STATUS_SCHEMA)
    summary = {
        "files": file_count,
        "dirs": dir_count,
        "total_tb": total_size / 1024**4,
        "elapsed_sec": elapsed,
        "walk_sec": walk_sec,
        "stat_sec": stat_sec,
        "depth": depth,
    }
    return CrawlResult(files=files, status=status, summary=summary)
