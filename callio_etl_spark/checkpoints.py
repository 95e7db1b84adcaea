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

Spark shape: the log is an append-only parquet table; the warm is one small
aggregate collected to the driver (a sanctioned scalar collect). In
Structured Streaming terms, checkpoint == watermark state and overlap ==
withWatermark delay; this batch implementation is the Trigger.AvailableNow
equivalent the reference's scheduler approximates.
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
    """Checkpoint cache + update-log buffer over a parquet path."""

    spark: SparkSession
    log_path: str
    overlap_ms: int = DEFAULT_OVERLAP_MS
    lookback_days: int = DEFAULT_LOOKBACK_DAYS
    _cache: dict[tuple[str, str], int] = field(default_factory=dict)
    _buffer: list[tuple] = field(default_factory=list)

    def warm(self) -> None:
        """C1 — rebuild the cache from the log: GROUP BY (table, tenant)
        MAX(max_update_ms) (reference checkpoints.py:60-78; the A6 agg).

        Only the missing-log cold start is swallowed; any other read error
        (corrupt footer, permissions, transient FS failure) propagates —
        silently resetting every checkpoint to the 30-day lookback would
        re-read the whole window and mask the real failure.

        A MISSING path is first run through ``recover_table``: a compact()
        killed between its two swap renames leaves the whole log under the
        backup name for a moment, and a daemon restarting inside that
        window must roll the swap forward rather than silently cold-start
        every checkpoint (and the recovery must happen BEFORE anything
        recreates the path — see flush())."""
        from pyspark.errors import AnalysisException

        def read_rows():
            log = self.spark.read.schema(UPDATE_LOG_SCHEMA).parquet(
                self.log_path
            )
            return (
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

        try:
            rows = read_rows()
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc) and (
                "Path does not exist" not in str(exc)
            ):
                raise
            from callio_etl_spark.io import (
                _hadoop,
                acquire_service_lock,
                recover_table,
                release_service_lock,
            )

            # recovery under the log's SERVICE lock: a missing path may
            # also be a LIVE compact mid-swap (another table's tick —
            # several stores can share one log) — rolling ITS staged
            # swap forward from here would corrupt its rename sequence;
            # waiting out the lock sees either the finished swap or a
            # genuinely torn one. The hold we may be waiting out is a
            # whole compact, not a plain commit — covered by
            # acquire_service_lock's tick-sized default timeout.
            acquire_service_lock(self.spark, self.log_path)
            try:
                recover_table(self.spark, self.log_path)
                jvm, fs, p = _hadoop(self.spark, self.log_path)
                if not fs.exists(p):
                    return  # genuinely no log yet — cold start everywhere
                rows = read_rows()  # the healed (rolled-forward) log
            finally:
                release_service_lock(self.spark, self.log_path)
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

    def _flush_local_fastpath(self) -> bool:
        """Driver-side single-file append for LOCAL log paths (r15,
        guide §5 inverted: the driver should do no *data* work, but a
        flush is a handful of driver-resident audit scalars — pushing
        them through a Spark job costs a fixed ~0.5-0.9 s per flush
        (job launch + one-row shuffle + committer) where a direct
        pyarrow write of the identical parquet bytes is ~1 ms; measured
        on http_loop_snapshot_sink / update_log_modes, flush was the
        single biggest fixed cost). Byte-compatibility is pinned by
        test: timestamps land as TIMESTAMP(MICROS, adjusted-to-UTC),
        longs as INT64, read back identically by warm()'s
        explicit-schema read AND a schema-inferring read over a mixed
        Spark+pyarrow file set. Crash-safe: written as a dot-hidden
        temp (invisible to Spark/Hadoop input listings) then renamed —
        a crash strands only a hidden temp file. The path's RESOLVED
        scheme decides: a scheme-less path takes the cluster's
        ``fs.defaultFS`` (hdfs:// on most clusters, where a driver-disk
        write would be invisible to warm()/compact()), and only
        ``file`` takes the fast path — remote warehouses (hdfs://,
        s3a://...) return False and keep the distributed write. Neither
        lookup instantiates a FileSystem. Caller holds the service
        lock."""
        import re

        jvm = self.spark.sparkContext._jvm
        scheme = jvm.org.apache.hadoop.fs.Path(self.log_path).toUri().getScheme()
        if scheme is None:
            conf = self.spark.sparkContext._jsc.hadoopConfiguration()
            scheme = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
                conf
            ).getScheme()
        if scheme != "file":
            return False
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyspark ships pyarrow
            return False
        import os
        import uuid

        path = re.sub(r"^file:(//)?", "", self.log_path)
        os.makedirs(path, exist_ok=True)
        cols = list(zip(*self._buffer))
        tbl = pa.table(
            {
                "table_name": pa.array(cols[0], pa.string()),
                "tenant": pa.array(cols[1], pa.string()),
                # buffered as naive-UTC datetimes (log()); tz="UTC" makes
                # the parquet annotation adjusted-to-UTC, matching what
                # Spark's writer records for TimestampType
                "updated_at": pa.array(cols[2], pa.timestamp("us", tz="UTC")),
                "rows_loaded": pa.array(cols[3], pa.int64()),
                "max_update_ms": pa.array(cols[4], pa.int64()),
                "mode": pa.array(cols[5], pa.string()),
            }
        )
        tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(tbl, tmp, compression="snappy")
        os.rename(
            tmp, os.path.join(path, f"part-{uuid.uuid4().hex}.snappy.parquet")
        )
        return True

    def flush(self) -> None:
        """C5 — append the buffer to the log table (checkpoints.py:42-50).

        The append runs under the log's SERVICE lock so it can never race
        a concurrent ``compact()``'s whole-table swap (the swap would
        silently displace an append that landed between its read and its
        rename — in the table whose loss rewinds every checkpoint to the
        30-day lookback). Uncontended cost is one create+delete pair on
        the lock file per flushed tick."""
        if not self._buffer:
            return
        from callio_etl_spark.io import (
            acquire_service_lock,
            release_service_lock,
        )

        # a flush racing a long compact of a ~100k-file log must wait the
        # compact out, not raise a spurious 120 s commit-timeout and fail
        # the tick — acquire_service_lock's tick-sized default timeout
        acquire_service_lock(self.spark, self.log_path)
        try:
            # heal a torn compact swap BEFORE appending: if a crash left
            # the log under its backup name, creating a fresh path here
            # would make the later recovery read "swap already finished"
            # and DISPOSE the backup — the entire pre-crash log. One
            # exists probe per flush; recovery only when path is missing.
            from callio_etl_spark.io import _hadoop, recover_table

            jvm, fs, p = _hadoop(self.spark, self.log_path)
            if not fs.exists(p):
                recover_table(self.spark, self.log_path)
            if not self._flush_local_fastpath():
                # remote warehouse: one file per flush, not one per
                # createDataFrame slice — every extra part file is paid
                # again by EVERY later warm()'s full-log scan.
                # repartition(1), NOT coalesce(1): coalesce on a local
                # relation defeats the LocalTableScan fast path and costs
                # a measured ~4.5 s FIXED per flush (r14 bisect — it
                # tripled every flush-bearing service row); the one-row
                # shuffle is free.
                df = self.spark.createDataFrame(
                    self._buffer, UPDATE_LOG_SCHEMA
                ).repartition(1)
                df.write.mode("append").parquet(self.log_path)
            self._buffer.clear()
        finally:
            release_service_lock(self.spark, self.log_path)

    def compact(self, keep_rows_per_key: int = 512) -> int:
        """C5 at daemon lifetime: every flushed tick appends one small
        parquet file to the update_log FOREVER — a year of 5-minute ticks
        is ~100k files, and warm()'s group-by-max scans all of them on
        every restart/tick. Compaction rewrites the log down to the
        newest ``keep_rows_per_key`` audit rows per (table, tenant) PLUS
        each key's max(max_update_ms) row — the checkpoint row itself can
        never be dropped, even when it is older than the audit window
        (a long run of NOOP/ERROR ticks could otherwise age it out and
        silently rewind the next warm() to the 30-day lookback). One
        atomic whole-table swap (io.atomic_overwrite: staged write +
        locked rename), safe while the df reads from the path it
        replaces. Returns the retained row count.

        SELF-FENCING: the read-plan-swap runs under the log's own
        SERVICE lock — the same lock every ``flush()`` appends under —
        so a compact can never displace a concurrent flush's rows, no
        matter where the caller invokes it from (the r12 version only
        DOCUMENTED this race as caller discipline). The reference's
        update_log lives in BigQuery where this bound is a table TTL;
        this is the same bound on a plain filesystem."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import Window

        from callio_etl_spark.io import (
            acquire_service_lock,
            assert_service_fencing,
            atomic_overwrite,
            release_service_lock,
        )

        # a compact may queue behind another store's long compact of the
        # same shared log (see flush()) — tick-sized default timeout
        acquire_service_lock(self.spark, self.log_path)
        try:
            try:
                log = self.spark.read.schema(UPDATE_LOG_SCHEMA).parquet(
                    self.log_path
                )
            except AnalysisException as exc:
                if "PATH_NOT_FOUND" in str(exc) or (
                    "Path does not exist" in str(exc)
                ):
                    return 0  # no log yet: nothing to compact
                raise
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
            atomic_overwrite(self.spark, kept, self.log_path)
            # single scan of the PRE-compaction log (the expensive side —
            # this operator exists for the ~100k-file case): the retained
            # count is read back from the compacted table, which is
            # ≤ keep_rows_per_key × keys rows by construction
            return self.spark.read.parquet(self.log_path).count()
        finally:
            release_service_lock(self.spark, self.log_path)

    def compact_if_needed(
        self, max_files: int = 256, keep_rows_per_key: int = 512
    ) -> int | None:
        """Opportunistic retention: compact() once the log has
        accumulated more than ``max_files`` part files — one cheap
        directory listing per call (through the Hadoop FS abstraction,
        so hdfs://-/s3a://-style warehouses count correctly), so a
        daemon can call this EVERY tick at its quiet point (right after
        flush(), inside the tick's single-writer section) and pay the
        rewrite only ~once per ``max_files`` ticks. Returns the retained
        row count when a compaction ran, else None."""
        from callio_etl_spark.io import _hadoop

        jvm, fs, _ = _hadoop(self.spark, self.log_path)
        p = jvm.org.apache.hadoop.fs.Path(self.log_path)
        if not fs.exists(p):
            return None
        n_files = sum(
            1
            for st in fs.listStatus(p)
            if st.getPath().getName().endswith(".parquet")
        )
        if n_files <= max_files:
            return None
        return self.compact(keep_rows_per_key)
