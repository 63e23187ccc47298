"""SparkSession construction tuned for the engine.

Local testing runs ``local[N]``; the same knob set is what we would ship on a
1000-executor cluster: AQE for runtime re-planning (skew joins, coalesced
shuffle partitions), Arrow for every Python<->JVM hop, and shuffle-partition
counts sized to the data rather than Spark's static default of 200.

On a local master the Python workers run under the engine's own daemon,
``storage_crawler_spark.pyworker`` (``spark.python.daemon.module``): it takes
the spark-core jar off the workers' ``sys.path`` and puts ``pyspark.zip``
behind the installed pyspark, so Spark's per-task ``invalidate_caches()``
no longer re-reads both archives (~0.2 s per Python task).  Workers import
that module, like every UDF of the package, from
``spark.executorEnv.PYTHONPATH``, which starts with the package's parent
directory wherever the driver was started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "storage-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    At 100 TB the static confs that matter are AQE (runtime shuffle-partition
    coalescing + skew-join splitting), Arrow batch size for the Python stages,
    and a broadcast threshold generous enough to keep dimension joins
    shuffle-free.  Everything else (join strategy, partition pruning,
    pushdown) is left to Catalyst.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Stat-column predicates reach the fsmeta listing stage (sources/fsmeta.py).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    # Vendored minimal PostgreSQL JDBC driver (vendor/minipg — r13): the
    # sandbox ships no pgjdbc jar, so the JDBC sink/source would otherwise
    # be Derby-only.  extraClassPath puts it on the DRIVER classloader,
    # where java.sql.DriverManager needs it (sc.addJar reaches executors
    # but not DriverManager); it only takes effect at JVM launch, which is
    # exactly when getOrCreate builds the first session.  spark.jars ships
    # the same jar to EXECUTORS (r13 ADVICE: JDBC read/write partitions run
    # executor-side, and on a non-local master extraClassPath alone would
    # leave them without the driver class).
    jar = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                       "vendor", "minipg", "minipg.jar")
    if os.path.exists(jar) and not (extra_conf or {}).get("spark.driver.extraClassPath"):
        builder = builder.config("spark.driver.extraClassPath", jar)
        if not (extra_conf or {}).get("spark.jars"):
            builder = builder.config("spark.jars", jar)
    conf = dict(extra_conf or {})
    # A cluster's executors may receive the package only per task
    # (--py-files), after the daemon has started, so they keep Spark's own.
    if (master or os.environ.get("SPARK_MASTER") or "local").startswith("local"):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        caller = conf.get("spark.executorEnv.PYTHONPATH")
        conf = {
            "spark.python.daemon.module": "storage_crawler_spark.pyworker",
            **conf,
            "spark.executorEnv.PYTHONPATH": os.pathsep.join([root] + ([caller] if caller else [])),
        }
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
