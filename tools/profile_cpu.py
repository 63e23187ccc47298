#!/usr/bin/env python
"""Stage-level CPU decomposition for the hot registry entries (guide §1:
measure first).  Runs labelled sub-steps of a builder under distinct job
groups and reports executor-CPU seconds + wall per label from the status
REST API — the same load-robust metric bench.py records.

Usage: python tools/profile_cpu.py <preset> [--sf-dir DIR]
Presets: winnow, jaccard, minhash, kmeans, kcore, pq
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import cpu_seconds_by_group  # noqa: E402


def run_steps(spark, steps):
    """steps: list of (label, thunk).  Executes each under its own job
    group; prints wall per step, then CPU per step from the REST API."""
    sc = spark.sparkContext
    walls = {}
    for label, thunk in steps:
        sc.setLocalProperty("spark.jobGroup.id", f"prof:{label}")
        t0 = time.time()
        thunk()
        walls[label] = time.time() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    cpu = cpu_seconds_by_group(spark, ("prof:",))
    print(f"{'step':<28} {'wall_s':>8} {'cpu_s':>8}")
    for label, _ in steps:
        print(f"{label:<28} {walls[label]:>8.2f} {cpu.get('prof:' + label, 0.0):>8.2f}")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    preset = sys.argv[1]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]

    from storage_crawler_spark.plans import views as V
    from storage_crawler_spark.plans.dialect import SPARK as D
    from storage_crawler_spark.session import build_session

    spark = build_session(app_name=f"profile-{preset}", extra_conf={"spark.ui.enabled": "true"})
    V.register_base_tables(spark, sf_dir)
    spark.table("documents").count()  # warm JVM

    n = spark.sparkContext.defaultParallelism
    steps = []

    if preset == "winnow":
        from storage_crawler_spark.operators import dedup, text

        spark.table("documents").repartition(n).createOrReplaceTempView("_documents_rep")
        wn = spark.sql(text.gen_winnow_rel(D, src="_documents_rep"))
        steps = [
            ("hash_rel_noop", lambda: noop(wn)),
        ]
        run_steps(spark, steps)
        # full builder breakdown
        from storage_crawler_spark.plans.registry import QUERIES

        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", "prof:full_builder")
        t0 = time.time()
        df = QUERIES["dedup_winnow_pairs"].builder(spark, sf_dir)
        df.count()
        print(f"full_builder wall {time.time() - t0:.2f}")
        sc.setLocalProperty("spark.jobGroup.id", None)
        cpu = cpu_seconds_by_group(spark, ("prof:",))
        print("full_builder cpu", round(cpu.get("prof:full_builder", 0), 2))
    elif preset == "jaccard":
        from storage_crawler_spark.operators import dedup

        spark.table("documents").repartition(n).createOrReplaceTempView("_documents_rep")
        prep = spark.sql(dedup.gen_jaccard_prep(D, src="_documents_rep"))
        prep.createOrReplaceTempView("_jaccard_prep")
        ranked = spark.sql(dedup.gen_jaccard_ranked(D, "_jaccard_prep", src="documents"))
        ranked.persist()
        pairs = spark.sql(dedup.gen_jaccard_pairs(D, ranked_rel="_jp_ranked_v")) if False else None
        ranked.createOrReplaceTempView("_jp_ranked_v")
        pairs_df = spark.sql(dedup.gen_jaccard_pairs(D, ranked_rel="_jp_ranked_v"))
        steps = [
            ("prep_noop", lambda: noop(prep)),
            ("ranked_materialize", lambda: ranked.count()),
            ("pair_join_noop", lambda: noop(pairs_df)),
        ]
        run_steps(spark, steps)
    elif preset == "minhash":
        from storage_crawler_spark.operators import dedup

        spark.table("documents").repartition(n).createOrReplaceTempView("_documents_rep")
        sigs = spark.sql(dedup.gen_minhash_sigs(D, src="_documents_rep"))
        sigs.persist()
        sigs.createOrReplaceTempView("_mh_sigs_v")
        pairs = spark.sql(dedup.gen_minhash_pairs(D, sigs_rel="_mh_sigs_v"))
        steps = [
            ("sigs_materialize", lambda: sigs.count()),
            ("band_join_noop", lambda: noop(pairs)),
        ]
        run_steps(spark, steps)
    elif preset == "kcore":
        from storage_crawler_spark.operators.kmeans import kmeans_fit_lattice
        from storage_crawler_spark.operators import cluster

        def fit():
            kmeans_fit_lattice(spark, iters=cluster.KNN_ITERS)

        steps = [("kmeans_fit", fit)]
        run_steps(spark, steps)
        # edges_rest is the whole edge build: knn_edges_lattice runs its
        # own fit (fits are not shared across calls), so edges_rest minus
        # kmeans_fit is the cell and top-m stages
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", "prof:edges_rest")
        t0 = time.time()
        edges = cluster.knn_edges_lattice(spark, m=8)
        edges.count()
        print(f"edges total wall {time.time() - t0:.2f} (includes its own fit)")
        sc.setLocalProperty("spark.jobGroup.id", None)
        cpu = cpu_seconds_by_group(spark, ("prof:",))
        print("edges cpu", round(cpu.get("prof:edges_rest", 0), 2))
    elif preset == "pq":
        from storage_crawler_spark.operators import pq as pqm

        def fit():
            pqm.pq_fit_lattice(spark)

        steps = [("pq_fit", fit)]
        run_steps(spark, steps)
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", "prof:pq_topk_full")
        t0 = time.time()
        df = pqm.pq_lattice_topk(spark)
        df.count()
        print(f"pq_topk full wall {time.time() - t0:.2f} (includes another fit)")
        sc.setLocalProperty("spark.jobGroup.id", None)
        cpu = cpu_seconds_by_group(spark, ("prof:",))
        print("pq_topk cpu", round(cpu.get("prof:pq_topk_full", 0), 2))
    else:
        print(f"unknown preset {preset}", file=sys.stderr)
        return 2
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
