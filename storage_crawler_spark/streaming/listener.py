"""Streaming progress → status rows.

The reference runs a daemon that samples shared counters every ``--update``
seconds and appends metric snapshots to the status table (storcrawl.py:
491-528): ``file stat rate`` / ``file walk rate`` / ``insert rate`` plus
queue depths.  Structured Streaming already measures the same quantities
per micro-batch; this listener maps ``StreamingQueryProgress`` onto the
reference's status vocabulary as ``(time, status, value, units)`` events,
and ``to_df`` builds them with the crawl's status row builder
(``crawl.pipeline.status_rows``).  The snapshot therefore has
``STATUS_SCHEMA`` (id, time, status, value, units, entry), the report
plane's status queries (full/events/averages/brief) run on it unchanged,
and ``sources.lake.append_status`` appends it to a tag with ids that
continue the tag's own.
"""

from __future__ import annotations

import datetime as _dt
import threading
import time as _time
from typing import TYPE_CHECKING

from pyspark.sql.streaming import StreamingQueryListener

from storage_crawler_spark.crawl.pipeline import status_rows

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def _epoch(timestamp: str) -> float:
    """Epoch seconds of a listener event's ISO-8601 UTC stamp, e.g.
    '2026-08-13T05:00:00.123Z'."""
    return _dt.datetime.fromisoformat(timestamp).timestamp()


class StatusMetricsListener(StreamingQueryListener):
    """Collects query lifecycle and per-batch progress as status events.

    Events accumulate in memory (driver-side, O(batches)); ``to_df``
    snapshots them as a DataFrame for appending to a status sink.  Each
    carries its event's time: the query's start stamp, each batch's
    progress stamp, and the moment the listener hears of termination
    (that event has no stamp).  Thread-safe: Spark invokes listeners from
    its own event thread.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.rows: list[tuple[float, str, float | None, str]] = []

    # -- StreamingQueryListener interface ----------------------------------
    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.rows.append((_epoch(event.timestamp), "stream begin", None, "event"))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        t = _epoch(p.timestamp)
        with self._lock:
            self.rows.append((t, "insert rate", float(p.processedRowsPerSecond or 0.0), "inserts/sec"))
            self.rows.append((t, "file walk rate", float(p.inputRowsPerSecond or 0.0), "entries/sec"))
            self.rows.append((t, "rows in batch", float(p.numInputRows), "files"))

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.rows.append((_time.time(), "stream end", None, "event"))

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing dependent
        pass

    # -- status-table export ------------------------------------------------
    def to_df(self, spark: "SparkSession") -> "DataFrame":
        with self._lock:
            snapshot = list(self.rows)
        return status_rows(spark, snapshot)
