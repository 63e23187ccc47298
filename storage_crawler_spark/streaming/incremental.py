"""Incremental crawl: a path stream → lstat → epoch-committed lake.

The reference's dbproc loop buffers INSERTs and commits on a wall-clock
timer (group commit, storcrawl.py:382-391) while the status daemon appends
progress rows (storcrawl.py:491-528).  The Structured Streaming shape is
``foreachBatch``: each micro-batch is one atomic append (the epoch IS the
group commit), and each epoch writes its own status row — so the report
plane's rate queries run over a live incremental crawl's telemetry.

Source: a landing directory of text files, one filesystem path per line —
the pattern a producer (notification queue drainer, scheduled lister)
feeds at scale; Spark's file-stream source gives exactly-once per landed
file.  The stat stage is the walker's own kernel
(``walker.stat_path_batches``: lstat, extension and owner in one
``mapInPandas``), and each epoch's rows come from the batch crawl's row
builders (``pipeline.files_rows``, ``pipeline.status_rows``), so an
incremental tag's ``files`` and ``status`` tables have the batch crawl's
schemas and the two modes cannot drift.  Both tables' ids continue across
epochs (``lake.append_with_ids``).
"""

from __future__ import annotations

import datetime as _dt
import os
import time as _time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from storage_crawler_spark.config import CrawlConfig
from storage_crawler_spark.crawl.pipeline import files_rows, status_rows
from storage_crawler_spark.crawl.walker import CRAWL_ROW_SCHEMA, stat_path_batches
from storage_crawler_spark.sources.lake import append_status, append_with_ids


def read_path_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-stream of newline-delimited paths (one landed file = one unit
    of exactly-once processing)."""
    return (
        spark.readStream.format("text")
        .load(landing_dir)
        .select(F.encode(F.col("value"), "utf-8").alias("path"))
    )


def stat_enrich(paths: DataFrame, config: CrawlConfig, owners: dict[bytes, str] | None = None) -> DataFrame:
    """lstat + extension/owner in the walker's kernel: CRAWL_ROW_SCHEMA rows,
    one ``mapInPandas`` over a streaming or static ``path`` column."""
    kernel = lambda it: stat_path_batches(it, config.extension_length, owners)  # noqa: E731
    return paths.mapInPandas(kernel, CRAWL_ROW_SCHEMA)


def incremental_crawl(
    spark: SparkSession,
    landing_dir: str,
    lake_root: str,
    tag: str = "incremental",
    config: CrawlConfig | None = None,
    owners: dict[bytes, str] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the incremental crawl; returns the StreamingQuery.

    Each micro-batch appends its FILES_SCHEMA rows to
    ``<lake>/storcrawl_<tag>/files`` and one ``file metadata inserts``
    status row (rows committed) to ``.../status`` — the epoch is the group
    commit.  The row count comes from an ``Observation`` on the files write,
    so the lstat kernel runs once per epoch.  ``available_now=True`` drains
    what has landed and stops (cron-style incremental); False runs
    continuous.
    """
    cfg = config or CrawlConfig()
    tag_dir = os.path.join(lake_root, f"storcrawl_{tag}")
    files_dir = os.path.join(tag_dir, "files")
    checkpoint = os.path.join(tag_dir, "_checkpoint")

    enriched = stat_enrich(read_path_stream(spark, landing_dir), cfg, owners)

    def commit_epoch(batch: DataFrame, epoch_id: int) -> None:
        obs = Observation()
        stamp = _dt.datetime.now(_dt.timezone.utc)
        append_with_ids(files_rows(batch, stamp).observe(obs, F.count(F.lit(1)).alias("n")), files_dir)
        event = (_time.time(), "file metadata inserts", float(obs.get["n"]), "inserts")
        append_status(status_rows(batch.sparkSession, [event]), lake_root, tag)

    writer = (
        enriched.writeStream.foreachBatch(commit_epoch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
