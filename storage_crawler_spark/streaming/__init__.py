"""Structured Streaming plane (SURVEY.md §2.8).

The reference's crawl is a bounded streaming job: pipelined stages over
unbounded multiprocessing queues with a status daemon sampling counters
(storcrawl.py:491-528) and group-committed sinks (storcrawl.py:382-391).
This package re-expresses those semantics on Spark Structured Streaming:

- :mod:`events` — file-stream source over the events table, watermarked
  tumbling-window and session-window aggregations, and a bounded
  run-to-completion harness (``Trigger.AvailableNow`` + memory sink) so
  streaming plans are testable/oracle-checkable against batch SQL;
- :mod:`stateful` — ``applyInPandasWithState`` per-key delta/rate operator
  (the reference's rate derivation, storcrawl.py:503-505, as a stateful
  streaming op);
- :mod:`listener` — ``StreamingQueryListener`` that turns progress events
  into status rows of the crawl's own shape, in the reference's status
  vocabulary (storcrawl.py:494-521).
"""

from storage_crawler_spark.streaming.events import (
    attribution_join,
    cms_counters,
    hourly_counters,
    read_events_stream,
    stream_dedup,
    user_sessions,
    run_to_completion,
    session_counts,
    windowed_counts,
)
from storage_crawler_spark.streaming.incremental import incremental_crawl, read_path_stream
from storage_crawler_spark.streaming.listener import StatusMetricsListener
from storage_crawler_spark.streaming.stateful import (
    attribution_credit_stream,
    funnel_stages_stream,
    per_key_deltas,
    rate_anomaly_stream,
)

__all__ = [
    "attribution_join",
    "cms_counters",
    "hourly_counters",
    "read_events_stream",
    "stream_dedup",
    "user_sessions",
    "run_to_completion",
    "session_counts",
    "windowed_counts",
    "per_key_deltas",
    "rate_anomaly_stream",
    "funnel_stages_stream",
    "attribution_credit_stream",
    "StatusMetricsListener",
    "incremental_crawl",
    "read_path_stream",
]
