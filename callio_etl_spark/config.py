"""Env-driven engine configuration (SURVEY.md section 0 / reference
config.py:200-212): the same knobs a reference deployment sets, under the
same env names where the semantics carried over, so switching is a
config-file move.

Reference mapping (reference config.py / .env):
- OVERLAP_MS                (config.py:186)  late-data overlap
- DAYS_TO_FETCH_IF_EMPTY    (config.py:187)  cold-start lookback
- SCHEDULER_RUN_TIMES_UTC   (config.py:164-167) daily slots
- SCHEDULER_STAFF_GROUP_TIME_UTC (config.py:170-174) once-daily snapshot slot
- LIMIT_RECORDS_PER_ENDPOINT (config.py:203-204) per-tick record cap

Engine-specific additions: data/work locations and Spark sizing, overridable
the same way (SPARK_GRAFT_* used by bench.py/tests already).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

from callio_etl_spark.checkpoints import DEFAULT_LOOKBACK_DAYS, DEFAULT_OVERLAP_MS
from callio_etl_spark.scheduler import (
    DEFAULT_RUN_TIMES,
    DEFAULT_STAFF_GROUP_TIME,
    parse_run_times,
)


def _int_env(name: str, default: int) -> int:
    raw = os.environ.get(name, "").strip()
    try:
        return int(raw) if raw else default
    except ValueError:
        return default


@dataclass
class EngineConfig:
    overlap_ms: int = DEFAULT_OVERLAP_MS
    lookback_days: int = DEFAULT_LOOKBACK_DAYS
    run_times: list[dt.time] = field(
        default_factory=lambda: parse_run_times(DEFAULT_RUN_TIMES)
    )
    staff_group_times: list[dt.time] = field(
        default_factory=lambda: parse_run_times(DEFAULT_STAFF_GROUP_TIME)
    )
    limit_records: int | None = None  # None = unlimited (reference default)
    sf_dir: str = "/root/testdata/sf0.001"
    work_dir: str = "./_engine_work"
    cpus: int = 32
    #: older versions kept per warehouse table besides the live one. Every
    #: warehouse table is a snapshot table (snapshots.py) and keeps
    #: ``keep_versions + 1`` manifests: the month-partitioned tick tables
    #: and the whole-table outputs alike. The engine's stand-in for
    #: BigQuery's implicit time travel on the reference's MERGE targets;
    #: lets `--mode restore` roll a bad tick back.
    keep_versions: int = 0

    @classmethod
    def from_env(cls) -> "EngineConfig":
        limit = _int_env("LIMIT_RECORDS_PER_ENDPOINT", 0)
        return cls(
            overlap_ms=_int_env("OVERLAP_MS", DEFAULT_OVERLAP_MS),
            lookback_days=_int_env("DAYS_TO_FETCH_IF_EMPTY", DEFAULT_LOOKBACK_DAYS),
            run_times=parse_run_times(
                os.environ.get("SCHEDULER_RUN_TIMES_UTC", DEFAULT_RUN_TIMES)
            ),
            staff_group_times=parse_run_times(
                os.environ.get("SCHEDULER_STAFF_GROUP_TIME_UTC", DEFAULT_STAFF_GROUP_TIME)
            ),
            limit_records=limit or None,
            sf_dir=os.environ.get("SPARK_GRAFT_SF_DIR", cls.sf_dir),
            work_dir=os.environ.get("SPARK_GRAFT_WORK_DIR", cls.work_dir),
            cpus=_int_env("SPARK_GRAFT_CPUS", cls.cpus),
            keep_versions=_int_env("SPARK_GRAFT_KEEP_VERSIONS", cls.keep_versions),
        )
