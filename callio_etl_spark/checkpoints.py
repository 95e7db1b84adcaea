"""Incremental checkpoint / update-log protocol (SURVEY.md section 2.9, C1-C5).

Reference: /root/reference/callio_etl/checkpoints.py (store + log buffer) and
runner.py:55-146, 523-563 (the advance rules). Semantics preserved:

- C1 per-(table, tenant) checkpoint = MAX event timestamp, warmed from the
  append-only update_log by a group-by-max (the A6 aggregate).
- C2 late-data overlap: effective cutoff = checkpoint - overlap_ms; the
  downstream MERGE makes the re-read idempotent.
- C3 cold start: now - lookback_days when no checkpoint exists.
- C4 ordering: write -> merge -> THEN commit the checkpoint (never before).
- C5 update_log rows (table_name, tenant, updated_at, rows_loaded,
  max_update_ms, mode) buffered and flushed per tick.

Table names are normalized on read and write exactly as the reference's
_normalize_table does (checkpoints.py:83-85): strip + lowercase + '-'/' '
-> '_'. Checkpoints silently miss if the normalization differs (SURVEY
section 7.5), so e.g. 'call-log' and 'Call Log' key identically.

Spark shape: the log is a whole snapshot table (snapshots.py), the same
format as every other table the engine commits: each flush is one
``snapshot_append`` of the buffered rows, staged by pyarrow with no
Spark job on a local path, and compaction is one ``snapshot_overwrite``.
The warm is one small aggregate over ``snapshot_read`` collected to the
driver (a sanctioned scalar collect). In Structured Streaming terms,
checkpoint == watermark state and overlap == withWatermark delay; this
batch implementation is the Trigger.AvailableNow equivalent the
reference's scheduler approximates.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

UPDATE_LOG_SCHEMA = StructType(
    [
        StructField("table_name", StringType()),
        StructField("tenant", StringType()),
        StructField("updated_at", TimestampType()),
        StructField("rows_loaded", LongType()),
        StructField("max_update_ms", LongType()),
        StructField("mode", StringType()),
    ]
)

#: Log modes (runner.py:90-575).
MODES = ("NOOP", "STAGED", "MERGED", "APPEND", "TRUNCATE", "ERROR_LOGIN")

DEFAULT_OVERLAP_MS = 180_000  # config.py:186
DEFAULT_LOOKBACK_DAYS = 30  # config.py:187


def normalize_table(name: str) -> str:
    """Mirror the reference's _normalize_table (checkpoints.py:83-85)."""
    return name.strip().lower().replace("-", "_").replace(" ", "_")


@dataclass
class CheckpointStore:
    """Checkpoint cache + update-log buffer over a snapshot table path."""

    spark: SparkSession
    log_path: str
    overlap_ms: int = DEFAULT_OVERLAP_MS
    lookback_days: int = DEFAULT_LOOKBACK_DAYS
    _cache: dict[tuple[str, str], int] = field(default_factory=dict)
    _buffer: list[tuple] = field(default_factory=list)

    def warm(self) -> None:
        """C1 — rebuild the cache from the log: GROUP BY (table, tenant)
        MAX(max_update_ms) (reference checkpoints.py:60-78; the A6 agg).

        Only the missing-log cold start (no snapshot table, or one whose
        first commit never published) is swallowed; any other read error
        (corrupt footer, permissions, transient FS failure) propagates —
        silently resetting every checkpoint to the 30-day lookback would
        re-read the whole window and mask the real failure. A plain
        parquet log left by an older engine raises for the same reason,
        naming the migration (the format guard). The read needs no lock:
        it resolves one published manifest, whose files are immutable."""
        from callio_etl_spark.snapshots import _snapshot_table_at, snapshot_read

        if not _snapshot_table_at(self.spark, self.log_path):
            return  # no log yet — cold start everywhere
        try:
            log = snapshot_read(self.spark, self.log_path)
        except FileNotFoundError:
            return  # the first flush crashed before its publish
        rows = (
            log.where(F.col("max_update_ms").isNotNull())
            .groupBy(
                F.regexp_replace(
                    F.lower(F.trim("table_name")), "[- ]", "_"
                ).alias("t"),
                "tenant",
            )
            .agg(F.max("max_update_ms").alias("ck"))
            .collect()
        )
        for r in rows:
            self._cache[(r["t"], r["tenant"])] = r["ck"]

    def get(self, table: str, tenant: str) -> int | None:
        return self._cache.get((normalize_table(table), tenant))

    def set(self, table: str, tenant: str, ck_ms: int) -> None:
        """C4 — callers invoke this only AFTER a successful merge."""
        self._cache[(normalize_table(table), tenant)] = ck_ms

    def cutoff_ms(self, table: str, tenant: str, now_ms: int | None = None) -> int:
        """C2/C3 — effective scan cutoff: checkpoint - overlap, or cold-start
        lookback (runner.py:59-64, 218-221)."""
        ck = self.get(table, tenant)
        if ck is not None:
            return ck - self.overlap_ms
        now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
        return now_ms - self.lookback_days * 86_400_000

    def log(
        self,
        table: str,
        tenant: str,
        rows_loaded: int,
        max_update_ms: int | None,
        mode: str,
    ) -> None:
        """C5 — buffer one audit row (reference checkpoints.py:23-40)."""
        assert mode in MODES, f"unknown mode {mode}"
        import datetime as dt

        self._buffer.append(
            (
                normalize_table(table),
                tenant,
                dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
                rows_loaded,
                max_update_ms,
                mode,
            )
        )

    def flush(self) -> None:
        """C5 — append the buffer to the log table (checkpoints.py:42-50)
        as one whole-table ``snapshot_append`` commit. The buffer is a
        handful of driver-resident audit scalars, so it goes in as a
        ``pyarrow.Table``: on a local log path pyarrow stages it with no
        Spark job (a Spark job costs a fixed ~0.5 s per flush, the
        biggest fixed cost of a tick); on any other resolved scheme
        Spark stages it as one file.

        The append runs under the log's SERVICE lock so it can never race
        a concurrent ``compact()``, whose overwrite would silently drop an
        append that committed between its read and its commit — in the
        table whose loss rewinds every checkpoint to the 30-day
        lookback."""
        if not self._buffer:
            return
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from callio_etl_spark.io import (
            acquire_service_lock,
            release_service_lock,
        )
        from callio_etl_spark.snapshots import _snapshot_table_at, snapshot_append

        # buffered as naive-UTC datetimes (log()); the UTC-adjusted arrow
        # timestamp is what Spark's writer records for TimestampType
        schema = to_arrow_schema(UPDATE_LOG_SCHEMA)
        batch = pa.Table.from_arrays(
            [
                pa.array(col, f.type)
                for col, f in zip(zip(*self._buffer), schema)
            ],
            schema=schema,
        )
        # a flush racing a long compact of the log must wait the compact
        # out, not raise a spurious 120 s commit-timeout and fail the
        # tick — acquire_service_lock's tick-sized default timeout
        acquire_service_lock(self.spark, self.log_path)
        try:
            _snapshot_table_at(self.spark, self.log_path)  # refuses a plain log
            snapshot_append(self.spark, batch, self.log_path, None)
            self._buffer.clear()
        finally:
            release_service_lock(self.spark, self.log_path)

    def compact(self, keep_rows_per_key: int = 512) -> int:
        """C5 at daemon lifetime: every flushed tick stacks one small data
        dir onto the update_log FOREVER — a year of 5-minute ticks is
        ~100k dirs, and warm()'s group-by-max scans all of them on every
        restart/tick. Compaction rewrites the log down to the newest
        ``keep_rows_per_key`` audit rows per (table, tenant) PLUS each
        key's max(max_update_ms) row — the checkpoint row itself can
        never be dropped, even when it is older than the audit window
        (a long run of NOOP/ERROR ticks could otherwise age it out and
        silently rewind the next warm() to the 30-day lookback). One
        ``snapshot_overwrite`` commit, safe while the frame reads from
        the table it replaces (its files are immutable). Returns the
        retained row count.

        SELF-FENCING: the read-plan-commit runs under the log's own
        SERVICE lock — the same lock every ``flush()`` appends under —
        so a compact can never drop a concurrent flush's rows, no
        matter where the caller invokes it from. The reference's
        update_log lives in BigQuery where this bound is a table TTL;
        this is the same bound on a plain filesystem."""
        from pyspark.sql import Window

        from callio_etl_spark.io import (
            acquire_service_lock,
            assert_service_fencing,
            release_service_lock,
        )
        from callio_etl_spark.snapshots import (
            _snapshot_table_at,
            snapshot_overwrite,
            snapshot_read,
        )

        # a compact may queue behind another store's long compact of the
        # same shared log (see flush()) — tick-sized default timeout
        acquire_service_lock(self.spark, self.log_path)
        try:
            if not _snapshot_table_at(self.spark, self.log_path):
                return 0  # no log yet: nothing to compact
            log = snapshot_read(self.spark, self.log_path)
            key = F.regexp_replace(
                F.lower(F.trim("table_name")), "[- ]", "_"
            ).alias("__t")
            w_audit = Window.partitionBy("__t", "tenant").orderBy(
                F.col("updated_at").desc(),
                F.col("max_update_ms").desc_nulls_last(),
            )
            w_ck = Window.partitionBy("__t", "tenant").orderBy(
                F.col("max_update_ms").desc_nulls_last(),
                F.col("updated_at").desc(),
            )
            kept = (
                log.withColumn("__t", key)
                .withColumn("__rn", F.row_number().over(w_audit))
                .withColumn("__rk", F.row_number().over(w_ck))
                .where(
                    (F.col("__rn") <= keep_rows_per_key)
                    | (F.col("__rk") == 1)
                )
                .drop("__t", "__rn", "__rk")
            )
            assert_service_fencing(self.spark, self.log_path)
            snapshot_overwrite(self.spark, kept, self.log_path)
            # single scan of the PRE-compaction log (the expensive side —
            # this operator exists for the ~100k-dir case): the retained
            # count is read back from the compacted table, which is
            # ≤ keep_rows_per_key × keys rows by construction
            return snapshot_read(self.spark, self.log_path).count()
        finally:
            release_service_lock(self.spark, self.log_path)

    def compact_if_needed(
        self, max_files: int | None = None, keep_rows_per_key: int = 512
    ) -> int | None:
        """Opportunistic retention: compact() once the log has
        accumulated more than ``max_files`` data files — read off the
        live manifest, which lists the one data dir every flush adds
        (each holding one file), so a daemon can call this EVERY tick at
        its quiet point (right after flush(), inside the tick's
        single-writer section) and pay the rewrite only ~once per
        ``max_files`` ticks. ``max_files`` defaults to Spark's
        ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32
        unless set): ``snapshot_read`` hands Spark one path per data dir,
        and past that many paths Spark lists them in an extra Spark job,
        so the default keeps every ``warm()`` on the serial listing.
        Returns the retained row count when a compaction ran, else
        None."""
        from callio_etl_spark.snapshots import (
            _leaf_toks,
            _snapshot_table_at,
            snapshot_manifest,
        )

        if not _snapshot_table_at(self.spark, self.log_path):
            return None
        try:
            m = snapshot_manifest(self.spark, self.log_path)
        except FileNotFoundError:
            return None  # the first flush crashed before its publish
        if max_files is None:
            max_files = int(
                self.spark.conf.get(
                    "spark.sql.sources.parallelPartitionDiscovery.threshold", "32"
                )
            )
        n_files = sum(len(_leaf_toks(m, leaf)) for leaf in m["partitions"])
        if n_files <= max_files:
            return None
        return self.compact(keep_rows_per_key)
