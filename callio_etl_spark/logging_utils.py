"""Observability helpers — the reference's logging surface, Spark-first.

Reference: /root/reference/callio_etl/logging_utils.py:1-109
(configure_logging -> Rich root logger; track_progress / progress_task ->
Rich progress bars wrapped around the runner's per-account loops,
runner.py:356,393,529,567). Port decisions:

- Rich is OPTIONAL here (not in the engine's dependency set): when
  importable, configure_logging uses RichHandler exactly like the
  reference; otherwise a plain stdlib StreamHandler with the same format.
  Progress is line-based (rate-limited log records) instead of a live
  bar — a driver on a 1000-executor cluster logs to an aggregator, not a
  TTY, so lines are the production-correct rendering anyway.
- The Spark-native half the reference cannot have: ``job_stage`` labels
  all jobs submitted in its scope with a job group + description, so the
  Spark UI / history server attributes every stage to the pipeline step
  that ran it (the cluster-scale equivalent of a progress bar), and
  ``cancel`` on the group is available to operators.
"""

from __future__ import annotations

import logging
import sys
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

#: Minimum seconds between progress log records for one tracked loop —
#: keeps driver logs bounded no matter how many items stream through.
_PROGRESS_INTERVAL_S = 2.0


class _StderrHandler(logging.StreamHandler):
    """A StreamHandler on whatever ``sys.stderr`` is when it emits, not
    the stream of its creation time (which a test runner closes)."""

    stream = property(lambda self: sys.stderr, lambda self, _: None)


def configure_logging(level: str = "INFO") -> logging.Logger:
    """Root logger setup (reference logging_utils.py:53-64): RichHandler
    when Rich is importable, a stdlib handler on the current stderr
    otherwise; always force-reconfigures so repeated CLI invocations
    don't stack handlers."""
    try:
        from rich.logging import RichHandler  # optional, like the reference

        handler: logging.Handler = RichHandler(
            show_time=True, show_path=False, markup=True, rich_tracebacks=True
        )
        fmt = "%(message)s"
    except ImportError:
        handler = _StderrHandler()
        fmt = "%(asctime)s %(levelname)s %(name)s: %(message)s"
    logging.basicConfig(level=level, handlers=[handler], format=fmt, force=True)
    return logging.getLogger("callio_etl_spark")


def track_progress(
    iterable: Iterable[T],
    description: str,
    *,
    total: int | None = None,
    logger: logging.Logger | None = None,
) -> Iterator[T]:
    """Yield items while logging rate-limited progress lines — the
    reference's track_progress (logging_utils.py:82-106) with log records
    in place of a live bar. Always logs the first and final item so short
    loops still leave a trace; in between, at most one record per
    ``_PROGRESS_INTERVAL_S`` wall seconds."""
    log = logger or logging.getLogger("callio_etl_spark")
    if total is None:
        try:
            total = len(iterable)  # type: ignore[arg-type]
        except TypeError:
            total = None
    suffix = f"/{total}" if total is not None else ""
    start = time.monotonic()
    last_emit = 0.0
    n = 0
    for item in iterable:
        yield item
        n += 1
        now = time.monotonic()
        if n == 1 or n == total or now - last_emit >= _PROGRESS_INTERVAL_S:
            last_emit = now
            log.info(
                "%s: %d%s (%.1fs elapsed)", description, n, suffix, now - start
            )


@contextmanager
def progress_task(
    description: str, *, total: int | None = None, logger: logging.Logger | None = None
):
    """Context manager yielding an ``advance(k=1)`` callable — the
    reference's progress_task (logging_utils.py:67-79) for loops that
    advance irregularly. Emits the same rate-limited records as
    track_progress plus a completion line with the total wall time."""
    log = logger or logging.getLogger("callio_etl_spark")
    suffix = f"/{total}" if total is not None else ""
    start = time.monotonic()
    state = {"n": 0, "last": 0.0}

    def advance(k: int = 1) -> None:
        state["n"] += k
        now = time.monotonic()
        if state["n"] == total or now - state["last"] >= _PROGRESS_INTERVAL_S:
            state["last"] = now
            log.info(
                "%s: %d%s (%.1fs elapsed)",
                description,
                state["n"],
                suffix,
                now - start,
            )

    try:
        yield advance
    finally:
        log.info(
            "%s: done, %d%s in %.1fs",
            description,
            state["n"],
            suffix,
            time.monotonic() - start,
        )


@contextmanager
def job_stage(spark: SparkSession, description: str, group: str | None = None):
    """Label every Spark job submitted in this scope with a job group and
    description, so the UI/history server attributes stages to the
    pipeline step and operators can cancel the whole group
    (`sc.cancelJobGroup`). The cluster-scale analog of the reference's
    per-step progress bars; clears the group on exit."""
    sc = spark.sparkContext
    sc.setJobGroup(group or description, description, interruptOnCancel=True)
    try:
        yield
    finally:
        sc.setJobGroup("", "")


__all__ = ["configure_logging", "track_progress", "progress_task", "job_stage"]
