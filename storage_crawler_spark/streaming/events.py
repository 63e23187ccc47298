"""Streaming source + windowed aggregations over the events table.

Design notes for the 100 TB shape:

- The source is a *file stream* (``spark.readStream.parquet``): on a real
  deployment this is the landing zone a crawler appends to, and Spark's
  file-stream source gives exactly-once per-file processing with
  ``maxFilesPerTrigger`` back-pressure — the bounded-memory replacement for
  the reference's unbounded ``multiprocessing.JoinableQueue`` pipelining
  (storcrawl.py:533-536, which has no backpressure at all).
- Aggregations run in **complete** output mode for the oracle-checked
  plane: the final result table is a pure function of the input set, so it
  is deterministic under ANY micro-batch split — the property the DuckDB
  oracle comparison needs.  Watermark + append mode (state eviction for
  truly unbounded streams) is exercised in :func:`windowed_counts` via
  ``with_watermark`` and covered by tests; at 100 TB the same plan runs in
  update/append mode with the watermark bounding state.
- ``run_to_completion`` uses ``Trigger.AvailableNow`` + a memory sink:
  process everything currently available, possibly as several batches,
  then stop.  This is the harness that turns a streaming plan into a
  DataFrame the driver/oracle can hash.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SINK_IDS = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over ``events.parquet`` with an event-time column.

    ``ts`` is normalized schema-adaptively (LONG nanos under ``nanosAsLong``,
    or TIMESTAMP/NTZ micros — the driver's parquet dtype has changed between
    rounds) via :func:`views.normalize_events_ts`; ``epoch_s`` / ``ts_ts``
    derive the second-floor epoch and TIMESTAMP the window/session operators
    and the batch/oracle side (``Dialect.epoch_s_events``) agree on.
    """
    from storage_crawler_spark.plans.views import normalize_events_ts, parquet_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # file-stream sources take a directory; glob-filter to the events table
    stream = (
        spark.readStream.schema(parquet_schema(f"{sf_dir}/events.parquet"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return (
        normalize_events_ts(stream)
        .withColumn("epoch_s", F.unix_seconds(F.col("ts")))
        .withColumn("ts_ts", F.timestamp_seconds(F.col("epoch_s")))
    )


def windowed_counts(
    events: DataFrame, width_s: int = 300, watermark: str | None = "10 minutes"
) -> DataFrame:
    """Tumbling event-time window counts per event_type.

    Output columns are epoch BIGINTs (window start) so the result is
    session-timezone independent and directly comparable to the SQL oracle
    ``(epoch_s div width) * width``.
    """
    src = events.withWatermark("ts_ts", watermark) if watermark else events
    return (
        src.groupBy(
            F.window("ts_ts", f"{width_s} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(events: DataFrame, gap_s: int = 30) -> DataFrame:
    """Session windows (gap-merged) per event_type.

    ``F.session_window`` merges events closer than ``gap_s``; the batch-SQL
    equivalent is the gaps-and-islands pattern (lag + running flag sum),
    which is exactly what the oracle runs.  Session end in Spark is
    ``last_event + gap``; the oracle adds the gap to the island max.
    """
    return (
        events.groupBy(
            F.session_window("ts_ts", f"{gap_s} seconds").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "event_type",
            "n_events",
        )
    )


def attribution_join(events: DataFrame, window_s: int = 300, watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream inner join: purchases attributed to same-user clicks
    within ``window_s`` seconds (the canonical funnel/attribution join).

    Both sides are filters of the SAME event stream (a streaming self-join);
    each carries its own watermark, and the event-time range condition
    (purchase within [click, click+window]) lets Spark bound both join-state
    buffers: click state older than watermark+window is evicted, purchase
    state older than watermark.  At 100 TB-of-stream this state bound — not
    the join itself — is what keeps the operator runnable; without the time
    condition Spark rejects the plan (unbounded state).

    Inner-join output is append-mode and batch-equivalent: every matching
    pair is emitted exactly once whatever the micro-batch split, so the
    result has a plain batch-SQL oracle.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts_ts").alias("click_ts"),
            F.col("epoch_s").alias("click_s"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_ts").alias("purchase_ts"),
            F.col("epoch_s").alias("purchase_s"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"user_id = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {window_s} seconds"
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_s",
        "purchase_s",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


def user_sessions(events: DataFrame, gap_s: int = 120) -> DataFrame:
    """Per-user session windows with funnel metrics: events gap-merged per
    user_id, each session reporting its span, event count, and whether it
    converted (contains a purchase).

    The realistic key cardinality for session state at scale — millions of
    users, not five event types; state per key is one window, evicted by
    the watermark on a true stream.  Conversion is an any-over-window
    aggregate (max of an indicator), so the whole funnel computes in the
    same single grouping as the session merge."""
    return (
        events.groupBy(
            F.session_window("ts_ts", f"{gap_s} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # when/otherwise, not a bare comparison cast: a NULL event_type
            # compares to NULL, and a session of only NULL-type events
            # would yield max(NULL) = NULL where the batch oracle's CASE
            # gives 0 (NULL-key battery catch)
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "converted"
            ),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "n_events",
            "converted",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per
    (user_id, event_type, minute) key, evicting key state once the
    watermark passes — the streaming analog of the exact-dedup tier, and
    the idiom that makes at-least-once upstream delivery exactly-once
    downstream.  Only the key columns are emitted (which duplicate
    survives is arrival-order dependent; the key set is deterministic, so
    the oracle is a batch ``SELECT DISTINCT``)."""
    return (
        events.withColumn("minute_s", (F.col("epoch_s") / 60).cast("long") * 60)
        .withWatermark("ts_ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_s"])
        .select("user_id", "event_type", "minute_s")
    )


def run_to_completion(
    result: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Run a (bounded) streaming DataFrame to completion; return the result.

    ``AvailableNow`` processes all currently-available input — possibly as
    multiple micro-batches — then terminates; the memory sink holds the
    final result table.  Complete-mode results are batch-equivalent
    regardless of how the input was split into batches.
    """
    spark = result.sparkSession
    qname = name or f"stream_result_{next(_SINK_IDS)}"
    query = (
        result.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(qname)


def cms_counters(events: DataFrame, depth: int = 4, width: int = 1024) -> DataFrame:
    """Streaming count-min counters: the (r, b)-keyed counter table of
    operators/sketches.gen_cms_heavy_hitters, maintained incrementally —
    the md5 bucket derivation happens map-side per micro-batch and the
    counts partial-combine into bounded state (depth x width rows TOTAL,
    regardless of stream volume: the defining property of the sketch).
    Counters are pure sums, so ANY micro-batch split yields the identical
    final relation — which is exactly what the oracle gate checks against
    the one-shot batch formulation."""
    from storage_crawler_spark.plans.dialect import SPARK

    bucket = (
        SPARK.md5_key48("concat('cms', CAST(r AS STRING), ':', CAST(user_id AS STRING))")
        + f" % {width}"
    )
    expanded = (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id", F.explode(F.array(*[F.lit(r) for r in range(1, depth + 1)])).alias("r"))
        .select("r", F.expr(f"CAST({bucket} AS BIGINT)").alias("b"))
    )
    return expanded.groupBy("r", "b").agg(F.count(F.lit(1)).cast("long").alias("c"))


def hourly_counters(events: DataFrame) -> DataFrame:
    """Streaming hourly-bucket counters: the (event_type, hour-bucket)
    count relation of operators/analytics.gen_burst_windows maintained
    incrementally — bucket derivation map-side per micro-batch, counts
    partial-combining into state bounded by (types × observed hours),
    growing with TIME, not volume.  Counters are pure sums, so ANY
    micro-batch split yields the identical final relation — the property
    the oracle gate checks against the one-shot batch formulation."""
    return (
        events.filter(F.col("event_type").isNotNull())
        .select("event_type", F.expr("epoch_s div 3600").alias("hb"))
        .groupBy("event_type", "hb")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def hll_registers(spark: SparkSession, events: DataFrame, m: int = 64) -> DataFrame:
    """Streaming deterministic-HLL register table: the per-event
    (event_type, bucket, rho) observations of operators/sketches.
    gen_hll_rows (the md5-derived engine-portable sketch) maintained as a
    complete-mode ``max(rho)`` aggregate — register maxima are the
    canonical mergeable-sketch update, so ANY micro-batch split yields
    the identical final register table, and the batch estimator
    (gen_hll_distinct, regs_rel=...) reads it unchanged.

    State is the defining sketch bound: m registers per event type TOTAL,
    whatever the stream volume — the distinct-counting analogue of
    :func:`cms_counters`."""
    from storage_crawler_spark.operators.sketches import gen_hll_rows
    from storage_crawler_spark.plans.dialect import SPARK

    events.createOrReplaceTempView("_events_stream_hll")
    rows = spark.sql(gen_hll_rows(SPARK, m=m, src="_events_stream_hll"))
    return rows.groupBy("event_type", "bucket").agg(F.max("rho").alias("mrho"))


def dd_counters(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Streaming DD-sketch register table: per (event_type, bucket) counts
    of operators/sketches.gen_dd_rows (integer log-lattice money buckets)
    maintained incrementally — counts are pure sums, so any micro-batch
    split yields the identical final relation (the cms_counters property),
    and the batch quantile readout (gen_dd_quantiles, regs_rel=...) reads
    it unchanged.  State: <= ~500 bucket rows per event type TOTAL (the
    sketch bound), whatever the stream volume."""
    from storage_crawler_spark.operators.sketches import gen_dd_rows
    from storage_crawler_spark.plans.dialect import SPARK

    events.createOrReplaceTempView("_events_stream_dd")
    rows = spark.sql(gen_dd_rows(SPARK, src="_events_stream_dd"))
    return rows.groupBy("event_type", "key", "lo_cents", "hi_cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def ams_registers(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Streaming AMS F2 register table: the per-event (event_type, j, ±1)
    observations of operators/sketches.gen_ams_rows maintained as a
    complete-mode ``sum(s)`` aggregate — signed sums are the canonical
    linear-sketch update, so ANY micro-batch split yields the identical
    final register table (the cms_counters property, frequency-moment
    edition), and the batch readout (gen_ams_f2, regs_rel=...) reads it
    unchanged.  State: G·B rows per event type TOTAL, whatever the
    stream volume — this is the sketch whose register table a CBO
    refreshes continuously for join-size costing."""
    from storage_crawler_spark.operators.sketches import gen_ams_rows
    from storage_crawler_spark.plans.dialect import SPARK

    events.createOrReplaceTempView("_events_stream_ams")
    rows = spark.sql(gen_ams_rows(SPARK, src="_events_stream_ams"))
    return rows.groupBy("event_type", "j").agg(
        F.sum("s").cast("long").alias("z")
    )
