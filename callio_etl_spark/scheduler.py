"""Scheduler slot math (SURVEY.md section 2.9 C6) — the reference's daemon
cadence as pure, clock-injected functions.

Reference: /root/reference/callio_etl/runner.py:876-932 (slot loop), 937-965
(sleep/error isolation), 986-999 (skip-if-already-ran);
config.py:129-176 (run-time parsing, staff/group daily slot).

The engine itself stays batch: each fired slot is one Trigger.AvailableNow-
style tick (the durable, service-locked pipeline.run_tick — the CLI's job
ticks — or streaming.run_available_now). Everything
here is deterministic and driven by an injected ``now`` so it is fully
testable without sleeping.
"""

from __future__ import annotations

import datetime as dt
import time as _time
from collections.abc import Callable, Iterable

#: Reference defaults (config.py:164-174; .env:15-16).
DEFAULT_RUN_TIMES = "02:30,04:00,06:00,08:00,11:00"
DEFAULT_STAFF_GROUP_TIME = "02:30"
#: Daemon idle poll ceiling (runner.py:957) and error retry delay (runner.py:965).
MAX_SLEEP_S = 300
ERROR_RETRY_S = 10


def parse_run_times(spec: str) -> list[dt.time]:
    """'02:30,04:00' -> sorted list of UTC times (config.py:129-141)."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        h, m = part.split(":")
        out.append(dt.time(int(h), int(m), tzinfo=dt.timezone.utc))
    return sorted(out)


def _slots_around(now: dt.datetime, times: Iterable[dt.time]) -> list[dt.datetime]:
    days = (now.date() - dt.timedelta(days=1), now.date(), now.date() + dt.timedelta(days=1))
    return sorted(
        dt.datetime.combine(d, t.replace(tzinfo=None), tzinfo=dt.timezone.utc)
        for d in days
        for t in times
    )


def prev_slot(now: dt.datetime, times: list[dt.time]) -> dt.datetime:
    """Latest slot <= now (may be yesterday's last slot; runner.py:986-992)."""
    return max(s for s in _slots_around(now, times) if s <= now)


def next_slot(now: dt.datetime, times: list[dt.time]) -> dt.datetime:
    """Earliest slot > now (may be tomorrow's first slot; runner.py:895-905)."""
    return min(s for s in _slots_around(now, times) if s > now)


def due(last_run_at: dt.datetime | None, now: dt.datetime, times: list[dt.time]) -> bool:
    """Skip-if-already-ran (runner.py:986-999): a job is due iff a slot fired
    after its last run. Never ran -> due."""
    if last_run_at is None:
        return True
    return prev_slot(now, times) > last_run_at


def sleep_seconds(now: dt.datetime, times: list[dt.time]) -> float:
    """Sleep until the next slot, capped at the reference's 300 s poll
    ceiling (runner.py:957) so config changes / clock jumps are noticed."""
    return min((next_slot(now, times) - now).total_seconds(), MAX_SLEEP_S)


def run_daemon(
    jobs: dict[str, Callable[[], None]],
    times: list[dt.time],
    *,
    job_times: dict[str, list[dt.time]] | None = None,
    clock: Callable[[], dt.datetime] | None = None,
    sleeper: Callable[[float], None] = _time.sleep,
    max_iterations: int | None = None,
    on_error: Callable[[str, Exception], None] | None = None,
) -> None:
    """C6 daemon loop with per-job error isolation (runner.py:937-965):
    each due job runs inside its own try/except — one tenant/job failing
    never stops the loop. ``job_times`` overrides the slot list for named
    jobs (the reference schedules staff/group on its OWN daily slot,
    config.py:170-176, separate from the tick cadence); the idle sleep
    targets the earliest next slot across ALL lists.
    ``clock``/``sleeper``/``max_iterations`` exist for tests; production
    callers pass none of them."""
    clock = clock or (lambda: dt.datetime.now(dt.timezone.utc))
    job_times = job_times or {}
    all_times = sorted(
        {*times, *(t for ts in job_times.values() for t in ts)}
    )
    last_run: dict[str, dt.datetime] = {}
    i = 0
    while max_iterations is None or i < max_iterations:
        i += 1
        now = clock()
        for name, job in jobs.items():
            if due(last_run.get(name), now, job_times.get(name, times)):
                try:
                    job()
                    last_run[name] = now
                except Exception as exc:  # per-loop isolation (runner.py:963-965)
                    if on_error is not None:
                        on_error(name, exc)
                    sleeper(ERROR_RETRY_S)
        sleeper(sleep_seconds(clock(), all_times))
