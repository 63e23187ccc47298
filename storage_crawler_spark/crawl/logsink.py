"""Rotating-file crawl log — parity with the reference's log listener
(storcrawl.py:271-300: workers push LogRecords through a queue, one
listener process writes them to a ``RotatingFileHandler``).

On Spark the queue half of that design is the cluster manager's job —
executor stdout/stderr are collected per-container and surfaced in the UI,
which is the multi-process funnel the reference hand-built.  What remains
driver-side is the lifecycle/metrics log, and that is what this module
reproduces: same handler type, same record format
(``%(asctime)s %(processName)-10s %(name)s %(levelname)-8s %(message)s``),
fed from the crawl's status events.
"""

from __future__ import annotations

import logging
import logging.handlers

# The reference's listener format, verbatim (storcrawl.py:290).
_FORMAT = "%(asctime)s %(processName)-10s %(name)s %(levelname)-8s %(message)s"

_LOGGER_NAME = "storcrawl"


def make_crawl_logger(
    logfile: str, max_bytes: int = 10_000_000, backups: int = 3
) -> logging.Logger:
    """A ``storcrawl`` logger writing to a rotating file, reference format.

    Idempotent per logfile: re-calling replaces the handler rather than
    stacking duplicates (the crawl may run repeatedly in one session).
    """
    logger = logging.getLogger(_LOGGER_NAME)
    logger.setLevel(logging.INFO)
    logger.propagate = False
    for h in list(logger.handlers):
        logger.removeHandler(h)
        h.close()
    handler = logging.handlers.RotatingFileHandler(
        logfile, maxBytes=max_bytes, backupCount=backups
    )
    handler.setFormatter(logging.Formatter(_FORMAT))
    logger.addHandler(handler)
    return logger


def log_status_events(
    logger: logging.Logger, events: list[tuple[float, str, float | None, str | None]]
) -> None:
    """Render crawl status events ``(time, status, value, units)`` as log
    lines (events at INFO; metric snapshots include value+units, matching
    the reference's status vocabulary)."""
    for _, status, value, units in events:
        if value is None:
            logger.info("%s", status)
        else:
            logger.info("%s: %s %s", status, value, units)
