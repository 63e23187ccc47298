"""Streaming plane tests (SURVEY.md §2.8): windowed/session aggregations,
stateful deltas, and the progress listener, all on the sf0.001 events table
via bounded AvailableNow runs."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from storage_crawler_spark.streaming import (
    StatusMetricsListener,
    per_key_deltas,
    read_events_stream,
    run_to_completion,
    session_counts,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def _batch_events(spark):
    from storage_crawler_spark.plans.views import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_events_ts(spark.read.parquet(f"{SF_DIR}/events.parquet")).withColumn(
        "epoch_s", F.unix_seconds(F.col("ts"))
    )


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_windowed_counts_match_batch(spark):
    stream_out = run_to_completion(windowed_counts(read_events_stream(spark, SF_DIR), 300))
    batch = (
        _batch_events(spark)
        .groupBy(
            ((F.col("epoch_s") / 300).cast("long") * 300).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(stream_out, *cols) == _rows(batch, *cols)


def test_session_counts_match_islands(spark):
    gap = 30
    stream_out = run_to_completion(session_counts(read_events_stream(spark, SF_DIR), gap))
    _batch_events(spark).createOrReplaceTempView("ev_batch")
    islands = spark.sql(
        f"""
        WITH l AS (
          SELECT event_type, epoch_s,
                 CASE WHEN epoch_s - lag(epoch_s) OVER (PARTITION BY event_type ORDER BY epoch_s)
                           > {gap} THEN 1 ELSE 0 END AS brk
          FROM ev_batch
        ),
        i AS (
          SELECT event_type, epoch_s,
                 sum(brk) OVER (PARTITION BY event_type ORDER BY epoch_s
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM l
        )
        SELECT min(epoch_s) AS session_start, max(epoch_s) + {gap} AS session_end,
               event_type, count(*) AS n_events
        FROM i GROUP BY event_type, island
        """
    )
    cols = ["session_start", "session_end", "event_type", "n_events"]
    assert _rows(stream_out, *cols) == _rows(islands, *cols)


def test_stateful_deltas_match_lag(spark):
    stream_out = run_to_completion(
        per_key_deltas(read_events_stream(spark, SF_DIR)), output_mode="update"
    )
    batch = _batch_events(spark).selectExpr(
        "event_id",
        "event_type",
        "epoch_s",
        "epoch_s - lag(epoch_s) OVER (PARTITION BY event_type ORDER BY event_id) AS delta_s",
    )
    cols = ["event_id", "event_type", "epoch_s", "delta_s"]
    assert _rows(stream_out, *cols) == _rows(batch, *cols)


def test_status_listener_collects_progress(spark):
    listener = StatusMetricsListener()
    spark.streams.addListener(listener)
    try:
        run_to_completion(windowed_counts(read_events_stream(spark, SF_DIR), 300))
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline:
            if any(r[1] == "insert rate" for r in listener.rows):
                break
            time.sleep(0.5)
        df = listener.to_df(spark)
        # the crawl's status shape: the status reports run on it
        from storage_crawler_spark.reports import status_brief
        from storage_crawler_spark.schemas import STATUS_SCHEMA

        assert df.schema == STATUS_SCHEMA
        statuses = {r[1] for r in listener.rows}
        assert "stream begin" in statuses
        assert "insert rate" in statuses, f"no progress rows captured: {statuses}"
        # one brief row per status; every row carries a real event time
        rows = df.collect()
        brief = status_brief(df).collect()
        assert sorted(r.status for r in brief) == sorted({r.status for r in rows})
        assert min(r.time for r in rows).year >= 2020
    finally:
        spark.streams.removeListener(listener)


def test_incremental_crawl_epochs(spark, tmp_path):
    """Two landing waves → two epochs, exactly-once, status rows per epoch;
    the tag's files and status tables have the batch crawl's schemas."""
    from storage_crawler_spark.config import CrawlConfig
    from storage_crawler_spark.crawl import crawl
    from storage_crawler_spark.reports import first_thousand, large_old_files
    from storage_crawler_spark.sources import read_files, read_status, write_crawl
    from storage_crawler_spark.streaming import incremental_crawl

    tree = tmp_path / "tree"
    tree.mkdir()
    f1 = tree / "one.txt"
    f1.write_text("1")
    f2 = tree / "two.tar.gz"
    f2.write_text("22")

    landing = tmp_path / "landing"
    landing.mkdir()
    lake = str(tmp_path / "lake")

    owners = {str(tree).encode(): "alice", str(f2).encode(): "bob"}

    (landing / "wave1.txt").write_text(f"{f1}\n")
    q = incremental_crawl(spark, str(landing), lake, tag="inc", owners=owners)
    q.awaitTermination()

    (landing / "wave2.txt").write_text(f"{f2}\n{tmp_path}/missing\n")
    q = incremental_crawl(spark, str(landing), lake, tag="inc", owners=owners)
    q.awaitTermination()

    files = spark.read.parquet(f"{lake}/storcrawl_inc/files")
    write_crawl(crawl(spark, CrawlConfig(dirs=[str(tree)])), lake, tag="batch")
    assert files.schema == read_files(spark, lake, "batch").schema
    assert read_status(spark, lake, "inc").schema == read_status(spark, lake, "batch").schema
    assert large_old_files(files, min_size=0).count() == 2
    assert first_thousand(files, deterministic=True).count() == 3

    rows = {bytes(r.path).decode(): r for r in files.collect()}
    assert set(rows) == {str(f1), str(f2), f"{tmp_path}/missing"}
    assert rows[str(f1)].st_size == 1
    assert bytes(rows[str(f2)].extension) == b"tar.gz"
    # a failed lstat is NULL stat columns, as in the batch crawl
    missing = rows[f"{tmp_path}/missing"]
    assert (missing.st_mode, missing.st_ino, missing.st_size, missing.st_mtime) == (None,) * 4
    # owner: the path itself first, then its deepest mapped ancestor
    assert rows[str(f1)].owner == "alice"
    assert rows[str(f2)].owner == "bob"
    assert rows[f"{tmp_path}/missing"].owner is None

    status = spark.read.parquet(f"{lake}/storcrawl_inc/status")
    inserts = sorted((r.id, r.value) for r in status.collect())
    assert len(inserts) == 2  # one status row per epoch
    assert len({i for i, _ in inserts}) == 2  # ids continue across epochs
    assert sum(v for _, v in inserts) == 3.0

    # re-running with nothing new landed appends nothing (exactly-once)
    q = incremental_crawl(spark, str(landing), lake, tag="inc", owners=owners)
    q.awaitTermination()
    assert spark.read.parquet(f"{lake}/storcrawl_inc/files").count() == 3


def test_incremental_files_ids_continue_across_epochs(spark, tmp_path):
    """Each epoch's ``files`` ids are shifted past the tag's largest id, so
    two landing waves into one tag never share an id (each wave's first row
    would otherwise get id 0)."""
    from storage_crawler_spark.streaming import incremental_crawl

    landing = tmp_path / "landing"
    landing.mkdir()
    lake = str(tmp_path / "lake")
    for i in range(2):
        f = tmp_path / f"f{i}.txt"
        f.write_text("x")
        (landing / f"wave{i}.txt").write_text(f"{f}\n")
        incremental_crawl(spark, str(landing), lake, tag="ids").awaitTermination()
    ids = [r.id for r in spark.read.parquet(f"{lake}/storcrawl_ids/files").collect()]
    assert len(ids) == 2 and len(set(ids)) == 2


def test_stat_enrich_is_one_python_pass(spark, tmp_path):
    """lstat, extension and owner run in one mapInPandas kernel: the plan
    carries no pandas-UDF column (ArrowEvalPython) on top of it, and the
    files row builder over it gives FILES_SCHEMA's columns in order."""
    import datetime

    from storage_crawler_spark.config import CrawlConfig
    from storage_crawler_spark.crawl.pipeline import files_rows
    from storage_crawler_spark.functions.owners import find_owner
    from storage_crawler_spark.functions.paths import find_extension
    from storage_crawler_spark.schemas import FILES_SCHEMA
    from storage_crawler_spark.streaming.incremental import stat_enrich

    f = tmp_path / "a.tar.gz"
    f.write_text("abc")
    paths = [str(f).encode(), str(tmp_path).encode() + b"/gone.txt"]
    owners = {str(tmp_path).encode(): "alice"}
    df = files_rows(
        stat_enrich(spark.createDataFrame([(p,) for p in paths], "path BINARY"), CrawlConfig(), owners),
        datetime.datetime.now(datetime.timezone.utc),
    )

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan
    assert df.columns == FILES_SCHEMA.names
    got = {bytes(r.path): r for r in df.collect()}
    for p in paths:
        assert bytes(got[p].extension) == find_extension(p)
        assert got[p].owner == find_owner(p, owners) == "alice"
    assert got[paths[0]].st_size == 3 and got[paths[1]].st_size is None


def test_streaming_rate_anomaly_matches_batch(spark):
    """The stateful trailing-z detector must equal the batch
    window_rate_anomaly plan on the same events, minus each key's FINAL
    window (which never closes in a finite stream) — window starts,
    counts, and the trunc6'd mean/std/z all bit-equal."""
    from storage_crawler_spark.plans import registry
    from storage_crawler_spark.streaming import rate_anomaly_stream

    stream_out = run_to_completion(
        rate_anomaly_stream(read_events_stream(spark, SF_DIR)), output_mode="update"
    )
    batch = registry.get_query("window_rate_anomaly").builder(spark, SF_DIR)
    last_ws = {
        r.event_type: r.ws
        for r in _batch_events(spark)
        .groupBy("event_type")
        .agg(F.expr("max(epoch_s div 3600 * 3600)").alias("ws"))
        .collect()
    }
    batch_rows = [
        t
        for t in _rows(batch, "window_start", "event_type", "n_events",
                       "trail_mean", "trail_std", "z")
        if t[0] != last_ws[t[1]]
    ]
    got = _rows(stream_out, "window_start", "event_type", "n_events",
                "trail_mean", "trail_std", "z")
    assert got == batch_rows
    assert len(got) > 0  # the synthetic events do contain anomalies


def test_cms_counters_invariant_under_microbatch_split(spark, tmp_path):
    """Count-min counters are sums, so splitting the input into several
    micro-batches (one file per trigger) must yield the exact counter
    relation the one-shot batch aggregation produces."""
    from storage_crawler_spark.plans.dialect import SPARK
    from storage_crawler_spark.streaming import cms_counters, run_to_completion

    ev = _batch_events(spark).select("event_id", "ts", "user_id", "event_type", "value")
    # three files -> three AvailableNow micro-batches with maxFilesPerTrigger=1
    ev.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "evs"))
    schema = spark.read.parquet(str(tmp_path / "evs")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "evs"))
    )
    stream_sk = run_to_completion(cms_counters(stream))

    ev.filter(F.col("user_id").isNotNull()).createOrReplaceTempView("_cms_ev")
    bucket = SPARK.md5_key48(
        "concat('cms', CAST(r AS STRING), ':', CAST(user_id AS STRING))"
    ) + " % 1024"
    batch_sk = spark.sql(
        f"""
SELECT r, CAST({bucket} AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS c
FROM _cms_ev LATERAL VIEW explode(sequence(1, 4)) _t AS r
GROUP BY r, b
""".strip()
    )
    assert _rows(stream_sk, "r", "b", "c") == _rows(batch_sk, "r", "b", "c")
    assert stream_sk.count() <= 4 * 1024  # bounded state


def test_hourly_counters_invariant_under_microbatch_split(spark, tmp_path):
    """Hourly burst counters are sums: any micro-batch split must yield the
    exact (event_type, hour, n) relation of the one-shot aggregation, and
    the state is bounded by types x observed hours."""
    from storage_crawler_spark.streaming import hourly_counters, run_to_completion

    ev = _batch_events(spark).select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "evh"))
    schema = spark.read.parquet(str(tmp_path / "evh")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "evh"))
        .withColumn("epoch_s", F.unix_seconds(F.col("ts")))
    )
    stream_hc = run_to_completion(hourly_counters(stream))

    batch_hc = (
        ev.filter(F.col("event_type").isNotNull())
        .select("event_type", F.expr("unix_seconds(ts) div 3600").alias("hb"))
        .groupBy("event_type", "hb")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    assert _rows(stream_hc, "event_type", "hb", "n") == _rows(
        batch_hc, "event_type", "hb", "n"
    )


def test_hll_registers_invariant_under_microbatch_split(spark, tmp_path):
    """HLL registers are maxima (the canonical mergeable-sketch update):
    any micro-batch split must yield the exact register relation of the
    one-shot batch aggregation, and state is bounded by types x m."""
    from storage_crawler_spark.operators.sketches import gen_hll_rows
    from storage_crawler_spark.plans.dialect import SPARK
    from storage_crawler_spark.streaming.events import hll_registers, run_to_completion

    ev = _batch_events(spark).select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "evhll"))
    schema = spark.read.parquet(str(tmp_path / "evhll")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "evhll"))
    )
    stream_regs = run_to_completion(hll_registers(spark, stream))

    ev.createOrReplaceTempView("_hll_ev_batch")
    batch_regs = spark.sql(
        "SELECT event_type, bucket, max(rho) AS mrho FROM (\n"
        + gen_hll_rows(SPARK, src="_hll_ev_batch")
        + "\n) r GROUP BY event_type, bucket"
    )
    assert _rows(stream_regs, "event_type", "bucket", "mrho") == _rows(
        batch_regs, "event_type", "bucket", "mrho"
    )
    n_types = ev.filter(F.col("user_id").isNotNull()).select("event_type").distinct().count()
    assert stream_regs.count() <= 64 * n_types  # bounded state


def test_dd_counters_invariant_under_microbatch_split(spark, tmp_path):
    """DD-sketch registers are sums: any micro-batch split must yield the
    exact bucket-count relation of the one-shot batch aggregation, with
    sketch-bounded state."""
    from storage_crawler_spark.operators.sketches import gen_dd_rows
    from storage_crawler_spark.plans.dialect import SPARK
    from storage_crawler_spark.streaming.events import dd_counters, run_to_completion

    ev = _batch_events(spark).select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "evdd"))
    schema = spark.read.parquet(str(tmp_path / "evdd")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "evdd"))
    )
    stream_regs = run_to_completion(dd_counters(spark, stream))

    ev.createOrReplaceTempView("_dd_ev_batch")
    batch_regs = spark.sql(
        "SELECT event_type, key, lo_cents, hi_cents, CAST(count(*) AS BIGINT) AS cnt"
        " FROM (\n" + gen_dd_rows(SPARK, src="_dd_ev_batch") + "\n) r"
        " GROUP BY event_type, key, lo_cents, hi_cents"
    )
    assert _rows(stream_regs, "event_type", "key", "cnt") == _rows(
        batch_regs, "event_type", "key", "cnt"
    )


def test_ams_registers_invariant_under_microbatch_split(spark, tmp_path):
    """AMS registers are signed sums (the canonical linear-sketch update):
    any micro-batch split must yield the exact register relation of the
    one-shot batch aggregation, with state bounded by types x G*B."""
    from storage_crawler_spark.operators.sketches import AMS_B, AMS_G, gen_ams_rows
    from storage_crawler_spark.plans.dialect import SPARK
    from storage_crawler_spark.streaming.events import ams_registers, run_to_completion

    ev = _batch_events(spark).select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "evams"))
    schema = spark.read.parquet(str(tmp_path / "evams")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "evams"))
    )
    stream_regs = run_to_completion(ams_registers(spark, stream))

    ev.createOrReplaceTempView("_ams_ev_batch")
    batch_regs = spark.sql(
        "SELECT event_type, j, CAST(sum(s) AS BIGINT) AS z FROM (\n"
        + gen_ams_rows(SPARK, src="_ams_ev_batch")
        + "\n) r GROUP BY event_type, j"
    )
    assert _rows(stream_regs, "event_type", "j", "z") == _rows(
        batch_regs, "event_type", "j", "z"
    )
    n_types = ev.filter(F.col("user_id").isNotNull()).select("event_type").distinct().count()
    assert stream_regs.count() <= AMS_G * AMS_B * n_types  # bounded state
