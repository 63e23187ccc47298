#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload crawl_tree --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Everything the run writes (generated
inputs, Spark local directories, the warehouse, traces) goes under
``.perfbench/`` in that checkout.

A run sets up a Spark session ``SETUPS`` times, each in a freshly launched
JVM, runs ``WARM_PASSES`` untimed passes, then runs timed passes of the
workload until ``--seconds`` have passed and at least ``MIN_PASSES`` passes
ran, checking every pass's output outside the timed region.

``--trace 0`` prints the end-to-end metrics: medians over the passes of
``wall_s``, ``cpu_s`` (utime+stime of this Python process, the JVM and every
Python worker, read from /proc) and ``entries_per_s``; and ``setup_s``, the
median over the set-ups of JVM launch, session build and a first Python
UDF job.

``--trace 1`` runs a traced pass between two untraced ones and prints the
per-layer metrics: span durations and counts per layer, each layer's self
time inside the traced pass, the part of the pass no layer span covers
(``trace.gap_s``), the tracing overhead (traced wall minus the mean
untraced wall), and ``peak_rss_mb`` of this Python process plus the JVM.
The heap grows in steps whose timing varies from run to run, so peak
memory is reported here, without a bound, rather than end to end.
The spans are written to ``.perfbench/traces/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Each set-up launches its own JVM, so every sample pays the full cost;
# two samples are what the run budget leaves room for.
SETUPS = 2
# Untimed passes over the timed input before measuring: the first pass
# pays Python-worker start-up and most JIT compilation.
WARM_PASSES = 1
# With three timed passes the median never rests on a straggler.
MIN_PASSES = 3
# Layers with spans inside the timed pass.  ``functions`` runs inside the
# crawl's own calls, so it is measured by a separate probe, not here.
LAYERS = ("crawl", "sources", "reports", "plans", "operators")


def _environment() -> None:
    """Make the run self-contained wherever it is started from: workers
    import the package from this checkout, the session uses every core
    this process may run on, and temporary files stay in ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [ROOT, HERE]


def _session(name: str):
    from storage_crawler_spark.session import build_session

    return build_session(
        app_name=f"perfbench-{name}",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={WORK} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for the counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _generic_warm(spark) -> None:
    """First job, codegen, and the Arrow Python workers."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(0, 4096, 1, spark.sparkContext.defaultParallelism).select(
        plus_one("id").alias("x")
    ).agg(F.sum("x")).collect()


def _stop() -> None:
    """Stop the active session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _timed_pass(wl, spark, tr):
    import measure

    wl.reset(spark)
    c0, t0 = measure.tree_cpu_seconds(), time.perf_counter()
    out = wl.run_pass(spark, tr)
    t1, c1 = time.perf_counter(), measure.tree_cpu_seconds()
    return out, t1 - t0, c1 - c0


def _layer_metrics(spark, tr, root: dict, untraced_wall: float, extra: dict) -> dict[str, float]:
    """Per-layer numbers of the traced pass (spans under ``root``), of the
    traced probes that ran after it, and the workload's own ``extra``."""
    import measure

    spans = tr.spans
    pass_spans = measure.subtree(spans, root["id"])
    dur = lambda s: s["end"] - s["start"]  # noqa: E731

    def total(pred) -> float:
        return sum(dur(s) for s in spans if pred(s["name"]))

    def counters(layer: str) -> dict:
        return measure.group_counters(
            spark.sparkContext, [tr.group(s) for s in spans if s["layer"] == layer]
        )

    def plan(pred, field: str) -> float:
        return sum(measure.plan_metrics(s["df"])[field] for s in spans
                   if pred(s["name"]) and "df" in s)

    m: dict[str, float] = dict(extra)
    for s in spans:
        # one metric per report action and per registry entry
        if s["name"].startswith(("reports.", "ops.")) and s["name"] != "reports.render":
            m[s["name"] + "_s"] = m.get(s["name"] + "_s", 0.0) + dur(s)
    c = counters("crawl")
    entries = m.get("crawl.entries", 0)
    m.update({
        "crawl.call_s": total(lambda n: n == "crawl.crawl"),
        "crawl.jobs": c["jobs"], "crawl.tasks": c["tasks"],
        "crawl.executor_cpu_s": c["cpu_s"],
        "crawl.entries_per_cpu_s": entries / c["cpu_s"] if c["cpu_s"] else 0.0,
        "functions.enrich_s": total(lambda n: n == "functions.enrich"),
        "functions.python_s": plan(lambda n: n == "functions.enrich", "python_s"),
        "sources.write_s": total(lambda n: n == "sources.write_crawl"),
        "sources.read_s": total(lambda n: n.startswith("sources.read_")),
        "sources.scan_bytes": plan(lambda n: n == "reports.render", "scan_bytes"),
    })
    c = counters("reports")
    m.update({
        "reports.render_s": total(lambda n: n == "reports.render"),
        "reports.executor_cpu_s": c["cpu_s"],
        "reports.jobs": c["jobs"],
    })
    c = counters("plans")
    m.update({
        "plans.build_s": total(lambda n: n == "plans.build"),
        "plans.eager_jobs": c["jobs"],
        "plans.build_cpu_s": sum(s.get("cpu_s", 0.0) for s in spans if s["name"] == "plans.build"),
    })
    c = counters("operators")
    m.update({
        "operators.action_s": total(lambda n: n == "operators.action"),
        "operators.executor_cpu_s": c["cpu_s"],
        "operators.python_s": plan(lambda n: n == "operators.action", "python_s"),
        "operators.shuffle_bytes": c["shuffle_bytes"],
        "operators.spill_bytes": c["spill_bytes"],
        "operators.tasks": c["tasks"],
    })
    selfs = measure.layer_self_times(pass_spans)
    wall = dur(root)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    gap = wall - sum(selfs.get(layer, 0.0) for layer in LAYERS)
    m.update({
        "trace.wall_s": wall,
        "trace.gap_s": gap,
        "trace.gap_ratio": gap / wall,
        "trace.overhead_s": wall - untraced_wall,
    })
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "storage_crawler_spark")):
        print(f"no storage_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    # metric names and units: the benchmark definition is the one source
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    _environment()

    import measure
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed)
    gen_s = wl.prepare()

    builds, warms = [], []
    try:
        for i in range(SETUPS):
            if i:
                _stop()
            t0 = time.perf_counter()
            spark = _session(wl.name)
            t1 = time.perf_counter()
            _generic_warm(spark)
            builds.append(t1 - t0)
            warms.append(time.perf_counter() - t1)
        setup_s = statistics.median(b + w for b, w in zip(builds, warms))
        build_s, warm_s = statistics.median(builds), statistics.median(warms)
        jvm = _jvm_pid()
        off = measure.Tracer(spark.sparkContext, enabled=False)
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            wl.reset(spark)
            wl.run_pass(spark, off)
        warm_passes_s = time.perf_counter() - t0

        attempted = failed = 0

        def checked(out) -> None:
            nonlocal attempted, failed
            n, problems = wl.check(spark, out)
            attempted += n
            # every problem names its operation before the first colon
            failed += len({p.split(":", 1)[0] for p in problems})
            for p in problems:
                print(f"# CHECK FAILED {wl.name}: {p}", file=sys.stderr)

        if args.trace == 0:
            walls, cpus, rates = [], [], []
            start = time.perf_counter()
            while len(walls) < MIN_PASSES or time.perf_counter() - start < args.seconds:
                out, wall, cpu = _timed_pass(wl, spark, off)
                walls.append(wall)
                cpus.append(cpu)
                rates.append(wl.entries(out) / wall)
                checked(out)
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "cpu_s": statistics.median(cpus),
                "entries_per_s": statistics.median(rates),
            }
            metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in spec["end_to_end"]}
            detail = {"passes": len(walls), "walls": walls, "cpus": cpus}
        else:
            # untraced passes on both sides of the traced one, so the
            # overhead is not confused with warm-up still going on
            out, before, _ = _timed_pass(wl, spark, off)
            checked(out)
            tr = measure.Tracer(spark.sparkContext, enabled=True)
            wl.reset(spark)
            with tr.span("bench.pass") as root:
                traced_out = wl.run_pass(spark, tr)
            checked(traced_out)
            out, after, _ = _timed_pass(wl, spark, off)
            checked(out)
            untraced = (before + after) / 2
            out = traced_out
            extra = wl.probe(spark, tr, out)
            layer = _layer_metrics(spark, tr, root, untraced, extra)
            layer["session.build_s"] = build_s
            layer["session.warm_s"] = warm_s
            layer["peak_rss_mb"] = measure.peak_rss_mb([os.getpid()] + ([jvm] if jvm else []))
            metrics = {m["name"]: (layer.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
            detail = {"untraced_wall_s": untraced}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_file = os.path.join(WORK, "traces", f"{wl.name}-s{args.seed}-{tr.run}.json")
            with open(trace_file, "w") as fh:
                json.dump([{k: v for k, v in s.items() if k != "df"} for s in tr.spans], fh)
            detail["trace_file"] = trace_file
    finally:
        _stop()

    detail.update({"workload": wl.name, "seed": args.seed, "generate_s": gen_s,
                   "setup_builds_s": builds, "setup_warms_s": warms,
                   "warm_passes_s": warm_passes_s})
    if wl.name == "registry_ops":
        detail["memo_isolation"] = wl.isolation
        detail["input"] = f"fixed tables {wl.sf_dir}; the seed does not change them"
    print("# " + json.dumps(detail), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
