"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Spark launches ``python -m <daemon module> pyspark.worker`` with
``$SPARK_HOME/python/lib/pyspark.zip`` and the spark-core jar at the front
of ``PYTHONPATH``.  Before every task, ``pyspark.worker_util`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes each
``zipimporter`` re-read its archive's central directory: ~14 package
importers into pyspark.zip (~10 ms each) plus two into the jar (~43 ms
each, and the jar holds no Python) — about 0.2 s of every Python task.

Run as the daemon, this module drops the ``.jar`` entries and moves
``pyspark.zip`` behind the interpreter's own paths, so an installed pyspark
(the driver's own) wins and the zip still resolves where none is installed.
Once pyspark is imported the zip leaves ``sys.path`` too: its submodules
resolve through ``pyspark.__path__``, and the zip holds nothing else, but
lookups of absent optional modules (psutil, memory_profiler, ...) would
otherwise reopen it.  Forked workers inherit the clean path.
"""

from __future__ import annotations

import os
import sys


def worker_path(path: list[str]) -> tuple[list[str], list[str]]:
    """Return ``(new_path, archives)``: ``path`` without ``.jar`` entries and
    with ``pyspark.zip`` moved to the end, plus every archive moved or dropped."""
    jars = [p for p in path if p.endswith(".jar")]
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    archives = jars + zips
    return [p for p in path if p not in archives] + zips, archives


def purge_importers(cache: dict, archives: list[str]) -> None:
    """Delete the importer-cache entries of ``archives`` and of the package
    directories inside them (``<archive>/pyspark``, ...)."""
    for key in list(cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del cache[key]


def import_daemon():
    """Rewrite ``sys.path`` with ``worker_path``, import ``pyspark.daemon``,
    then take the archives off ``sys.path`` and purge their importers."""
    sys.path[:], archives = worker_path(sys.path)
    from pyspark import daemon

    sys.path[:] = [p for p in sys.path if p not in archives]
    purge_importers(sys.path_importer_cache, archives)
    return daemon


if __name__ == "__main__":
    import_daemon().manager()
