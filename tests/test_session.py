"""The Python workers of a ``build_session`` session (session.py, pyworker.py).

The path rewrite is unit-tested as a pure function; the worker state, worker
reuse and the package import are checked on a session whose driver runs in a
subprocess started from a scratch directory, so nothing but
``build_session`` tells the workers where the package lives.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from storage_crawler_spark.pyworker import purge_importers, worker_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_LIB = "/spark/python/lib"
JAR = "/spark/jars/spark-core_2.13-4.1.2.jar"
SITE = "/usr/lib/python3.11/site-packages"


def test_worker_path_drops_jars_and_moves_pyspark_zip_behind_site_packages():
    path = ["/work", f"{SPARK_LIB}/pyspark.zip", f"{SPARK_LIB}/py4j-src.zip", JAR,
            "/repo", "/usr/lib/python3.11", SITE]
    new, archives = worker_path(path)
    assert new == ["/work", f"{SPARK_LIB}/py4j-src.zip", "/repo", "/usr/lib/python3.11",
                   SITE, f"{SPARK_LIB}/pyspark.zip"]
    assert sorted(archives) == sorted([JAR, f"{SPARK_LIB}/pyspark.zip"])
    assert worker_path(new[:-1]) == (new[:-1], [])


def test_purge_importers_drops_archive_and_package_keys():
    cache = {
        f"{SPARK_LIB}/pyspark.zip": 1,
        f"{SPARK_LIB}/pyspark.zip/pyspark": 2,
        f"{SPARK_LIB}/pyspark.zip/pyspark/sql": 3,
        JAR: 4,
        f"{JAR}/org": 5,
        f"{SPARK_LIB}/py4j-src.zip": 6,
        f"{SPARK_LIB}/pyspark.zipped": 7,
        SITE: 8,
    }
    purge_importers(cache, [JAR, f"{SPARK_LIB}/pyspark.zip"])
    assert cache == {f"{SPARK_LIB}/py4j-src.zip": 6, f"{SPARK_LIB}/pyspark.zipped": 7, SITE: 8}


def test_pyspark_only_in_the_zip_still_imports(tmp_path):
    """Without an installed pyspark (``-S``: no site-packages) the daemon's
    own start-up steps import pyspark from the zip, and a submodule first
    imported after the zip has left ``sys.path`` still resolves."""
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "FROM = 'zip'\n")
        z.writestr("pyspark/daemon.py", "def manager():\n    pass\n")
        z.writestr("pyspark/later.py", "")
    (tmp_path / "core.jar").write_bytes(b"")
    code = (
        "import sys\n"
        "from storage_crawler_spark.pyworker import import_daemon\n"
        "daemon = import_daemon()\n"
        "import pyspark, pyspark.later\n"
        "print(pyspark.FROM, daemon.__file__, pyspark.later.__file__,\n"
        "      [p for p in sys.path if p.endswith(('.jar', 'pyspark.zip'))])\n"
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([str(archive), str(tmp_path / "core.jar"), ROOT])}
    out = subprocess.run([sys.executable, "-S", "-c", code], env=env, cwd=str(tmp_path),
                         capture_output=True, text=True, check=True).stdout.split()
    assert out == ["zip", str(archive / "pyspark" / "daemon.py"),
                   str(archive / "pyspark" / "later.py"), "[]"]


# The driver of a fresh session, started outside the checkout with no
# PYTHONPATH: it finds the package only through its own sys.path, so its
# workers find it only through what build_session hands them.
DRIVER = """
import json, sys
sys.path.insert(0, %(root)r)
from pyspark.sql import functions as F
from storage_crawler_spark.functions.paths import extension_col
from storage_crawler_spark.session import build_session

spark = build_session(master="local[1]", shuffle_partitions=1,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
paths = spark.createDataFrame([(b"/a/b.tar.gz",), (b"/a/noext",)], "path binary")
try:
    ext = sorted(bytes(r.e or b"").decode()
                 for r in paths.select(extension_col(F.col("path")).alias("e")).collect())
except Exception as exc:  # reported, so the worker checks below still run
    ext = "ModuleNotFoundError" if "ModuleNotFoundError" in str(exc) else repr(exc)[:2000]

def report(batches):
    import json, os, sys, zipimport
    import pandas as pd
    import pyspark
    for _ in batches:
        pass
    yield pd.DataFrame({"state": [json.dumps({
        "pid": os.getpid(),
        "pyspark": pyspark.__file__,
        "jars": [p for p in sys.path if p.endswith(".jar")],
        "zip_importers": sorted(k for k, v in sys.path_importer_cache.items()
                                if isinstance(v, zipimport.zipimporter)),
    })]})

one = spark.range(0, 8, 1, 1)
states = [json.loads(one.mapInPandas(report, "state string").collect()[0].state) for _ in range(2)]
print("RESULT " + json.dumps({"extensions": ext, "states": states}))
spark.stop()
"""


@pytest.fixture(scope="module")
def fresh_driver(tmp_path_factory):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cwd = tmp_path_factory.mktemp("driver")
    proc = subprocess.run([sys.executable, "-c", DRIVER % {"root": ROOT}], env=env, cwd=cwd,
                          capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_driver_outside_the_repo_runs_a_package_pandas_udf(fresh_driver):
    assert fresh_driver["extensions"] == ["", "tar.gz"]


def test_workers_import_installed_pyspark_without_archives(fresh_driver):
    for state in fresh_driver["states"]:
        assert ".zip" + os.sep not in state["pyspark"]
        assert state["jars"] == []
        assert [k for k in state["zip_importers"] if ".jar" in k or "pyspark.zip" in k] == []


def test_consecutive_jobs_reuse_the_worker(fresh_driver):
    first, second = fresh_driver["states"]
    assert first["pid"] == second["pid"]
