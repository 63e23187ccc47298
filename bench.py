#!/usr/bin/env python
"""Headline-query benchmark.  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_REPS (default 3).

Each query is executed to completion (count + a cheap collect of the head)
after a warm-up pass of the session (JVM + parquet footer reads are not what
we're measuring).  Per-query time is the MIN over SPARK_GRAFT_REPS full
fresh executions (cache cleared before each rep, so every rep pays its own
prep/persist cost): this box is a shared sandbox with unpredictable external
CPU throttling, and min-of-N is the standard way to measure the code rather
than the neighbors.  Every rep is a complete real execution.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Tier-2: the heaviest registry entries (iterative fits, graph rounds, IR /
# packing planes) timed ONCE per round at the target SF — wall-time tracking
# for the plane where 100x-scale surprises would hide.  Annotates the
# headline series (metric/value/queries keys unchanged since r1); never
# reshapes it.  Selection: top sweep-cost entries covering each plane
# (ORACLE_SWEEP_r09 ranking) + the r9-verdict watchlist (k-core, LPA, RAKE,
# inverted index, pack_greedy, simhash, attribution).
TIER2_QUERIES = (
    "text_quality_learned",      # lattice logreg fit (12-step chain)
    "sim_kmeans_lattice",        # distributed Lloyd's, driver model state
    "sim_pq_topk",               # PQ/ADC over trained codebooks
    "sim_knn_kcore",             # 6-round peel + checkpointed edge set
    "sim_graph_2hop_topk",       # kNN-graph family: its own lattice fit +
                                 # edge build, then the two-hop probe (no
                                 # fit is shared with kcore)
    "events_lpa_communities",    # alternating bipartite sweeps
    "dedup_cluster_sizes",       # minhash LSH -> connected components
    "dedup_winnow_pairs",        # MOSS winnowing fingerprints
    "dedup_simhash_pairs",       # simhash banding
    "text_pack_greedy",          # two-pass prefix-sum packing
    "text_inverted_index",       # posting-capped IR index
    "text_rake_keywords",        # RAKE phrase mining
    "events_attribution_credit", # staged pair join (r10 cache fix)
)


def cpu_seconds_by_group(spark, prefixes: tuple[str, ...]) -> dict[str, float]:
    """Sum of executor task CPU time (seconds) per job group whose tag
    starts with one of ``prefixes``, read from the status REST API (so the
    session needs its UI on).  Stages shared by several jobs of one group
    count once (set union); SKIPPED stages never executed and carry no CPU.
    tools/profile_cpu.py reads its step groups with this too."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def fetch(path: str):
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}{path}", timeout=30
        ) as r:
            return json.loads(r.read())

    cpu_ns = {}
    for st in fetch("/stages?status=complete&details=false"):
        key = st["stageId"]
        # keep the max attempt (retries re-run the work; the surviving
        # attempt's CPU is the one the query actually consumed)
        cpu_ns[key] = max(cpu_ns.get(key, 0), st.get("executorCpuTime", 0))
    groups: dict[str, set] = {}
    for job in fetch("/jobs"):
        tag = job.get("jobGroup")
        if tag and tag.startswith(prefixes):
            groups.setdefault(tag, set()).update(job.get("stageIds", ()))
    return {
        tag: sum(cpu_ns.get(s, 0) for s in sids) / 1e9
        for tag, sids in groups.items()
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from storage_crawler_spark.plans.registry import QUERIES, headline_queries
    from storage_crawler_spark.session import build_session

    # UI on for the bench only: the status REST API behind it is where the
    # per-stage executor CPU time lives — the load-robust companion metric
    # (wall time on this shared box drifted ~30% between rounds with
    # byte-identical plans; CPU-seconds settles whether the CODE moved).
    # Driver heap is explicit (SPARK_GRAFT_DRIVER_MEM, default 4g): the
    # 64 MiB broadcast threshold assumes a production-sized heap — the 10x
    # scale probe OOMed a broadcast build inside Spark's 1g local default,
    # which a real cluster never runs.
    spark = build_session(
        app_name="bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        },
    )

    # Warm up: JVM, Arrow, parquet footers — not part of the measurement.
    from storage_crawler_spark.plans.views import register_base_tables

    register_base_tables(spark, sf_dir)
    spark.table("lineitem").count()
    # spin up the Python/Arrow UDF workers too — worker fork/import time is
    # environment startup, not query cost
    from pyspark.sql.functions import col
    from storage_crawler_spark.operators.simhash import simhash_udf

    spark.range(32).select(simhash_udf(col("id").cast("string"))).count()

    # JMH-style warmup: run every headline builder once at the sf0.001 smoke
    # scale so codegen compilation, Arrow converters, and broadcast machinery
    # are warm; the measurement below is steady-state per-query time at the
    # target scale factor.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        # tier-2 warms too (since r11c): each tier-2 entry is timed with
        # ONE rep, so without a warm pass its number mixes one-time plan
        # codegen / Arrow-UDF worker+numpy spin-up into the trend line —
        # sim_pq_topk measured 14.6s cold vs 4.5s steady-state standalone,
        # and the r11/r11b tier-2 series scattered 5.8/10.1/17.0 on a
        # byte-identical plan for exactly this reason.
        warm_set = list(headline_queries()) + [
            q for q in TIER2_QUERIES if q in QUERIES
        ]
        for name in warm_set:
            try:
                QUERIES[name].builder(spark, warm_dir).count()
            except Exception:
                pass  # warmup must never fail the bench
        spark.catalog.clearCache()
        register_base_tables(spark, sf_dir)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    timings: dict[str, float] = {}
    shuffles: dict[str, int] = {}
    sc = spark.sparkContext
    for name in headline_queries():
        spec = QUERIES[name]
        best, n = None, 0
        for rep in range(reps):
            spark.catalog.clearCache()  # each rep pays its own persists
            sc.setLocalProperty("spark.jobGroup.id", f"bench:{name}:{rep}")
            t0 = time.time()
            df = spec.builder(spark, sf_dir)
            n = df.count()
            _ = df.limit(10).collect()
            elapsed = time.time() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        # plan evidence rides along with the timing (untimed): shuffle count
        # from the same summarizer PLANS.md uses, so BENCH_r*.json alone
        # shows whether a timing moved because the PLAN changed or the box did.
        # Can read HIGHER than PLANS.md for queries with a persisted relation
        # referenced N times (e.g. minhash band joins): this explain counts
        # the cached lineage once per reference, while execution materializes
        # it once — PLANS.md's static count is the executed-shape number.
        try:
            from tools.audit_plans import plan_string, summarize

            shuffles[name] = summarize(plan_string(spark, df))["shuffles"]
        except Exception:
            pass  # plan introspection must never fail the bench
        print(
            f"# {name}: {timings[name]:.3f}s ({n} rows, min of {reps}, "
            f"{shuffles.get(name, '?')} shuffles)",
            file=sys.stderr,
        )

    # Tier-2: one full execution each (no min-of-N — these are trend lines,
    # not the headline series; a rep costs minutes at sf0.1)
    tier2: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_TIER2", "1") != "0":
        for name in TIER2_QUERIES:
            if name not in QUERIES:
                continue
            spark.catalog.clearCache()
            sc.setLocalProperty("spark.jobGroup.id", f"tier2:{name}:0")
            t0 = time.time()
            try:
                df = QUERIES[name].builder(spark, sf_dir)
                n = df.count()
                _ = df.limit(10).collect()
                tier2[name] = round(time.time() - t0, 3)
            except Exception as exc:  # noqa: BLE001
                tier2[name] = -1.0
                print(f"# tier2 {name} FAILED: {exc}", file=sys.stderr)
                continue
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            print(
                f"# tier2 {name}: {tier2[name]:.3f}s ({n} rows, 1 rep)",
                file=sys.stderr,
            )

    # CPU-seconds companion metric (r10 VERDICT item 3): min over reps of
    # the per-rep executor-task CPU sum — load-robust where wall time is
    # not (box drift inflates wall uniformly but leaves task CPU alone).
    try:
        by_group = cpu_seconds_by_group(spark, ("bench:", "tier2:"))
    except Exception:  # noqa: BLE001 — CPU is a companion metric, never a bench failure
        by_group = {}
    cpu_s: dict[str, float] = {}
    tier2_cpu_s: dict[str, float] = {}
    for tag, sec in by_group.items():
        kind, name, _rep = tag.split(":")
        target = cpu_s if kind == "bench" else tier2_cpu_s
        target[name] = round(min(target.get(name, sec), sec), 3)
    for name, v in sorted(cpu_s.items()):
        print(f"# cpu {name}: {v:.3f} cpu-s (min of {reps})", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "cpu_s": cpu_s,
                "tier2_cpu_s": tier2_cpu_s,
                "cpu_note": "executor task CPU seconds per query (status REST "
                "API; min over reps) — load-robust companion to wall time",
                "shuffles": shuffles,
                # executed-lineage exchange counts: a persisted relation
                # referenced N times is counted once per reference here,
                # but materializes once — PLANS.md's static count is the
                # executed-shape number (e.g. minhash 21 here vs 10 static).
                "shuffles_note": "executed-lineage counts; persisted branches "
                "re-counted per consumer — see PLANS.md for static plan counts",
                "tier2": tier2,
                "tier2_note": "heavy iterative/graph/IR entries, 1 rep each "
                "(trend line, not part of the headline total)",
                "sf": sf,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
