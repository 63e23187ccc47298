"""Incremental crawl: a path stream → stat/enrich → epoch-committed lake.

The reference's dbproc loop buffers INSERTs and commits on a wall-clock
timer (group commit, storcrawl.py:382-391) while the status daemon appends
progress rows (storcrawl.py:491-528).  The Structured Streaming shape is
``foreachBatch``: each micro-batch is one atomic append (the epoch IS the
group commit), and each epoch writes its own status row — so the report
plane's rate queries run over a live incremental crawl's telemetry.

Source: a landing directory of text files, one filesystem path per line —
the pattern a producer (notification queue drainer, scheduled lister)
feeds at scale; Spark's file-stream source gives exactly-once per landed
file.  The stat stage is the walker's own row builder
(``walker.stat_path_batches``: lstat, extension and owner in one
``mapInPandas`` kernel), so incremental and full crawls cannot drift
semantically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from storage_crawler_spark.config import CrawlConfig
from storage_crawler_spark.crawl.walker import CRAWL_ROW_SCHEMA, stat_path_batches
from storage_crawler_spark.functions.paths import mode_bits_col


def read_path_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-stream of newline-delimited paths (one landed file = one unit
    of exactly-once processing)."""
    return (
        spark.readStream.format("text")
        .load(landing_dir)
        .select(F.encode(F.col("value"), "utf-8").alias("path"))
    )


def stat_enrich(paths: DataFrame, config: CrawlConfig, owners: dict[bytes, str] | None = None) -> DataFrame:
    """lstat + extension/owner in the walker's kernel, then mode bits,
    insert_time and the st_dev cast as Catalyst columns (the batch crawl's
    row builder — one code path for both modes)."""
    kernel = lambda it: stat_path_batches(it, config.extension_length, owners)  # noqa: E731
    return (
        paths.mapInPandas(kernel, CRAWL_ROW_SCHEMA)
        .withColumn("st_mode", mode_bits_col(F.col("st_mode_int")))
        .withColumn("insert_time", F.current_timestamp())
        .withColumn("st_dev", F.col("st_dev").cast("string"))
    )


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

    Each micro-batch appends to ``<lake>/storcrawl_<tag>/files`` and writes
    one normalized status row (epoch id, rows committed) to ``.../status``
    — the epoch is the group commit.  ``available_now=True`` drains what
    has landed and stops (cron-style incremental); False runs continuous.
    """
    cfg = config or CrawlConfig()
    tag_dir = os.path.join(lake_root, f"storcrawl_{tag}")
    files_dir = os.path.join(tag_dir, "files")
    status_dir = os.path.join(tag_dir, "status")
    checkpoint = os.path.join(tag_dir, "_checkpoint")

    enriched = stat_enrich(read_path_stream(spark, landing_dir), cfg, owners)

    def commit_epoch(batch: DataFrame, epoch_id: int) -> None:
        n = batch.count()
        batch.write.mode("append").parquet(files_dir)
        batch.sparkSession.createDataFrame(
            [(int(epoch_id), "file metadata inserts", float(n), "inserts")],
            "id BIGINT, status STRING, value DOUBLE, units STRING",
        ).withColumn("time", F.current_timestamp()).write.mode("append").parquet(status_dir)

    writer = (
        enriched.writeStream.foreachBatch(commit_epoch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
