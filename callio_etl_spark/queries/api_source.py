"""The paginated-API source driven END TO END over real HTTP.

SURVEY S1-S4 + S7 each have plan-level and unit coverage; this module
gives the whole source stack one oracle-checked driver row with the
REAL transport in the loop: an in-process HTTP server
(sources/local_api_server.py) serves the reference API's exact wire
surface (login POST -> token header, page/pageSize/sort/from/to
params, docs/totalDocs/hasNextPage payload, 401 expiry, the literal
"Result window is too large" 400) over a deterministic slice of the
events table, and Spark ingests through
``spark.read.format("callio_paged_api").option("base_url", ...)`` —
HTTP count probes feed the bisection planner, executor page walks run
the descending early-stop scan with mid-walk token refreshes, and the
result must hash-match DuckDB computing the same aggregate straight
from the parquet. Only the endpoint is local (this container has no
external network); the client, wire format, auth cycle, and failure
paths are the production ones.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from callio_etl_spark.registry import register
from callio_etl_spark.tables import load_table

#: Jan 15 2024 00:00 UTC — the checkpoint cutoff the source must stop at
#: (S2): rows at/under it exist on the server but may never be fetched
#: past their page.
_CUTOFF_MS = 1705276800000
#: Feb 1 2024 00:00 UTC — pinned scan upper bound (determinism; the
#: reference uses now()).
_WINDOW_END_MS = 1706745600000


@register(
    "api_http_ingest",
    oracle="""
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       MAX(epoch_ms(e.ts)) AS max_ts_ms,
       CAST(SUM(CAST(FLOOR(e.value * 1e6) AS BIGINT)) AS BIGINT)
         AS value_fold
FROM events e
WHERE e.event_id % 7 = 3
  AND epoch_ms(e.ts) > 1705276800000
  AND epoch_ms(e.ts) <= 1706745600000
GROUP BY 1
""",
    tags=["S1", "S2", "S3", "S4", "S7", "source", "http"],
)
def api_http_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S4/S7 over live HTTP (reference api.py:81-231 — the whole
    client): serve events rows where event_id % 7 == 3 (INCLUDING rows
    at/under the cutoff, which only the source's descending early stop
    may exclude), ingest via the registered DataSource pointed at the
    server's base_url with day slices + proactive bisection, and
    aggregate per event type. Tokens expire server-side every 40
    requests, so larger runs exercise the 401 -> re-login -> retry path
    mid-walk (explicitly pinned in tests/test_api_source.py), and every
    run exercises the multi-actor auth cycle (planner + each executor
    worker logs in on its own token cache — asserted in-query); the
    oracle recomputes from parquet, so a dropped page, a replayed page
    surviving first-wins keying, a cutoff leak, or a lost slice all
    break the hash.

    Scale shape: the server is the EXTERNAL system (its row list is the
    remote corpus, driver-hosted here only because the endpoint must
    live in-process); Spark-side work is the production plan — N
    bisected slices fetched in parallel, per-partition early stop,
    downstream agg fully distributed."""
    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )
    from callio_etl_spark.sources.paged_api import CallioPagedDataSource

    e = load_table(spark, sf_dir, "events")
    served = [
        {
            "_id": str(r["event_id"]),
            "ts_ms": r["ts_ms"],
            "user_id": r["user_id"],
            "event_type": r["event_type"],
            "value": r["value"],
        }
        for r in e.where(F.col("event_id") % 7 == 3)
        .select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            "value",
        )
        .collect()
    ]
    srv = LocalCallioApiServer(
        served,
        accounts={"etl@example.com": "pw"},
        result_window=10_000,
        expire_token_after=40,
    )
    base = srv.start()
    try:
        spark.dataSource.register(CallioPagedDataSource)
        df = (
            spark.read.format("callio_paged_api")
            .option("base_url", base)
            .option("endpoint", "event")
            .option("email", "etl@example.com")
            .option("password", "pw")
            .option("window_end_ms", _WINDOW_END_MS)
            .option("cutoff_ms", _CUTOFF_MS)
            .option("page_size", 500)
            .option(
                "api_schema",
                "_id string, ts_ms long, user_id long, "
                "event_type string, value double",
            )
            .load()
        )
        result = (
            df.groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.count_distinct("user_id").cast("long").alias("n_users"),
                F.max("ts_ms").alias("max_ts_ms"),
                F.sum(F.floor(F.col("value") * 1e6).cast("long"))
                .cast("long")
                .alias("value_fold"),
            )
        )
        # the HTTP roundtrip ends when the driver materializes; collect
        # here (driver-sized: |event_type| groups) so the server can stop
        rows = result.collect()
        if srv.logins < 2:
            raise AssertionError(
                "auth cycle never ran beyond one login: executor workers "
                "should authenticate on their own token caches (and token "
                "expiry force re-logins on longer runs)"
            )
        return spark.createDataFrame(rows, result.schema)
    finally:
        srv.stop()


#: Jan 1 2024 00:00 UTC minus the 1 h overlap — tick 1's effective scan
#: cutoff (the seeded checkpoint T0 shifted by C2's overlap_ms).
_T0_MS = 1704067200000
_OVERLAP_MS = 3_600_000
#: The update re-emission shift: 17 days in ms. An original ts in
#: (T0, T_MID] lands in (Jan 18, T_END] — always past tick 1's
#: checkpoint (<= T_MID = Jan 15) and never past the Feb 1 window end
#: (T_MID + 17 d == T_END exactly).
_UPDATE_SHIFT_MS = 1_468_800_000


def _loop_oracle(cohort_rem: int, upd_rem: int) -> str:
    """The two-tick loop oracle, shared by both loop rows so the window
    bounds can never drift between the twins: final table = base corpus
    UNION the deterministic update re-emissions, newest-per-key. Every
    bound matches the Python serving filter in ``_cohort_and_updates``
    exactly (both sides state the lower bound explicitly, so a dataset
    regeneration that widens the events window breaks loudly at the
    bound, not confusingly at the hash)."""
    return f"""
WITH base AS (
  SELECT CAST(e.event_id AS VARCHAR) AS _id,
         epoch_ms(e.ts) AS ts_ms,
         e.user_id,
         e.event_type,
         CAST(FLOOR(e.value * 1e6) AS BIGINT) AS value_fold
  FROM events e
  WHERE e.event_id % 5 = {cohort_rem}
    AND epoch_ms(e.ts) > {_T0_MS - _OVERLAP_MS}
    AND epoch_ms(e.ts) <= {_WINDOW_END_MS}
), updates AS (
  SELECT CAST(e.event_id AS VARCHAR) AS _id,
         epoch_ms(e.ts) + {_UPDATE_SHIFT_MS} AS ts_ms,
         e.user_id,
         'updated' AS event_type,
         CAST(FLOOR((e.value + 1) * 1e6) AS BIGINT) AS value_fold
  FROM events e
  WHERE e.event_id % 5 = {cohort_rem} AND e.event_id % 4 = {upd_rem}
    AND epoch_ms(e.ts) > {_T0_MS - _OVERLAP_MS}
    AND epoch_ms(e.ts) <= {_CUTOFF_MS}
), unioned AS (
  SELECT * FROM base UNION ALL SELECT * FROM updates
)
SELECT _id, ts_ms, user_id, event_type, value_fold
FROM (
  SELECT u.*,
         ROW_NUMBER() OVER (
           PARTITION BY _id ORDER BY ts_ms DESC
         ) AS rn
  FROM unioned u
) t
WHERE rn = 1
"""


def _cohort_and_updates(
    spark: SparkSession, sf_dir: str, cohort_rem: int, upd_rem: int
) -> tuple[list[dict], list[dict]]:
    """The served corpus and its tick-2 update re-emissions — the single
    Python mirror of ``_loop_oracle``'s CTEs. The update filter carries
    the SAME lower time bound as the updates CTE: an original row at or
    under T0 - overlap is never fetched by tick 1 (outside the seeded
    window), so re-emitting its update would insert an id the oracle's
    base CTE excludes — a data-dependent hash mismatch on any corpus
    with pre-window rows."""
    cohort = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 5 == cohort_rem)
        .select(
            F.col("event_id").cast("string").alias("_id"),
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            "value",
            (F.col("event_id") % 4 == upd_rem).alias("upd"),
        )
        .collect()
    )
    served = [
        {
            "_id": r["_id"],
            "ts_ms": r["ts_ms"],
            "user_id": r["user_id"],
            "event_type": r["event_type"],
            "value": r["value"],
        }
        for r in cohort
    ]
    late_updates = [
        {
            "_id": r["_id"],
            "ts_ms": r["ts_ms"] + _UPDATE_SHIFT_MS,
            "user_id": r["user_id"],
            "event_type": "updated",
            "value": r["value"] + 1.0,
        }
        for r in cohort
        if r["upd"]
        and _T0_MS - _OVERLAP_MS < r["ts_ms"] <= _CUTOFF_MS
    ]
    return served, late_updates


def _start_loop_server(served: list[dict]):
    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )

    srv = LocalCallioApiServer(
        served,
        accounts={"etl@example.com": "pw"},
        result_window=10_000,
        expire_token_after=40,
    )
    return srv, srv.start()


def _land_updates(srv, late_updates: list[dict]) -> None:
    """Re-emissions land on the server AFTER tick 1 — the list stays
    descending-sorted, the wire contract (reference api.py:137)."""
    srv.rows = sorted(
        srv.rows + late_updates,
        key=lambda r: (-int(r["ts_ms"]), str(r.get("_id"))),
    )


def _loop_fetch(
    spark: SparkSession,
    base_url: str,
    window_end_ms: int,
    cutoff_ms: int,
    extra_cols: list | None = None,
) -> DataFrame:
    """One paginated-HTTP read through the registered DataSource with the
    loop rows' shared projection (tenant stamp + row_hash)."""
    return (
        spark.read.format("callio_paged_api")
        .option("base_url", base_url)
        .option("endpoint", "event")
        .option("email", "etl@example.com")
        .option("password", "pw")
        .option("window_end_ms", window_end_ms)
        .option("cutoff_ms", max(0, cutoff_ms))
        .option("page_size", 500)
        .option(
            "api_schema",
            "_id string, ts_ms long, user_id long, "
            "event_type string, value double",
        )
        .load()
        .select(
            "_id", "ts_ms", "user_id", "event_type", "value",
            F.lit("PK").alias("tenant"),
            F.md5(
                F.concat_ws("|", "_id", "event_type", "value")
            ).alias("row_hash"),
            *(extra_cols or []),
        )
    )


def _assert_multi_login(srv) -> None:
    if srv.logins < 2:
        raise AssertionError(
            "auth cycle never ran beyond one login across the two "
            "ticks: executor page walks must authenticate on their "
            "own token caches"
        )


_LOOP_TAGS = ["S1", "S2", "C1", "C2", "C4", "D3", "J8", "source", "http"]


@register("http_incremental_loop", oracle=_loop_oracle(2, 1), tags=_LOOP_TAGS)
def http_incremental_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE production loop (runner.py:55-210) over real
    HTTP, as one oracle-checked operator: two ``pipeline.run_tick`` calls
    — checkpoint cutoff (C1, C2 overlap) -> paginated HTTP fetch with
    server-side descending early stop (S1/S2) -> latest-per-key dedup
    (D3) -> row_hash-guarded MERGE (J8) -> checkpoint advance after the
    merge (C4) — where tick 2 fetches only the post-watermark delta (new
    rows + re-emitted UPDATES of tick-1 ids). The table is partitioned by
    ``event_type`` and every update re-emits its row as 'updated', so
    each updated key MOVES partition: this row drives run_tick's
    moved-key path, its twin ``http_loop_snapshot_sink`` the stable one.

    The returned frame is the final table read back from disk; the
    DuckDB oracle (``_loop_oracle``) recomputes it from parquet, so a
    lost overlap row, a dropped page, a double-applied update, a stale
    copy left in an old partition, or an update that lost its MERGE all
    break the hash."""
    import shutil as _shutil

    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.pipeline import IncrementalTable, run_tick
    from callio_etl_spark.queries.sinks import _tmp
    from callio_etl_spark.snapshots import snapshot_read
    from callio_etl_spark.sources.paged_api import CallioPagedDataSource

    served, late_updates = _cohort_and_updates(spark, sf_dir, 2, 1)
    srv, base_url = _start_loop_server(served)
    try:
        spark.dataSource.register(CallioPagedDataSource)
        root = _tmp("httploop")
        table_path = f"{root}/events"
        store = CheckpointStore(
            spark, f"{root}/update_log", overlap_ms=_OVERLAP_MS
        )
        table = IncrementalTable(
            name="HttpLoopEvents", keys=["tenant", "_id"], time_col_ms="ts_ms"
        )
        # seeded checkpoint, not cold: a durable audit row, which the
        # tick's warm() folds back
        store.log(table.name, "PK", 0, _T0_MS, "NOOP")
        store.flush()

        def tick(window_end_ms: int) -> None:
            run_tick(
                spark, store, table, table_path, "event_type",
                lambda cutoff: _loop_fetch(
                    spark, base_url, window_end_ms, cutoff
                ),
                "PK", 2, now_ms=window_end_ms,
            )

        tick(_CUTOFF_MS)  # (T0 - overlap, T_MID]
        _land_updates(srv, late_updates)
        tick(_WINDOW_END_MS)  # (ck1 - overlap, T_END]: delta + overlap
        _assert_multi_login(srv)
        result = snapshot_read(spark, table_path).select(
            "_id",
            "ts_ms",
            "user_id",
            "event_type",
            F.floor(F.col("value") * 1e6).cast("long").alias("value_fold"),
        )
        # materialized before the roundtrip tmp dir is dropped — harness
        # runs re-execute each query several times and would otherwise
        # leak a dir per pass
        local_rows = result.collect()
        _shutil.rmtree(root, ignore_errors=True)
        return spark.createDataFrame(local_rows, result.schema)
    finally:
        srv.stop()


def _snapshot_loop_tick(
    spark: SparkSession,
    base_url: str,
    root: str,
    window_end_ms: int,
    email: str = "etl@example.com",
    password: str = "pw",
    id_buckets: int = 16,
) -> None:
    """One DURABLE production-loop tick over live HTTP: ``pipeline.run_tick``
    into ``<root>/fact_events`` (partitioned by ``pbkt`` = crc32(_id) %
    id_buckets) with the update_log checkpoint under ``root``. All state
    is on disk, so a fresh process resumes exactly where the last tick's
    commits left off (tests/test_api_source.py proves it across a real
    kill -9). The tick opens with the reference's per-tenant login probe
    (runner.py:535-537): a failed login audits ERROR_LOGIN and holds the
    checkpoint.

    ``id_buckets`` is the merge-partition modulus: 16 suits the fixture
    corpus (per-bucket rewrite size grows as corpus/id_buckets and merge
    parallelism caps at id_buckets). It must stay CONSTANT for a table's
    lifetime — a drifted modulus scatters existing ids into buckets the
    merge never reads — so the first tick PINS it as the table property
    ``loop.id_buckets`` and later ticks check the pin under the lock.
    The bucket is a function of the key: ``stable_partitions=True``."""
    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.pipeline import IncrementalTable, run_tick
    from callio_etl_spark.snapshots import snapshot_properties
    from callio_etl_spark.sources.paged_api import HttpApiTransport

    table_path = f"{root}/fact_events"
    store = CheckpointStore(
        spark, f"{root}/update_log", overlap_ms=_OVERLAP_MS
    )
    transport = HttpApiTransport(
        base_url, email=email, password=password, tenant="PK"
    )

    def fetch(cutoff: int) -> DataFrame:
        try:
            props = snapshot_properties(spark, table_path)
        except FileNotFoundError:
            props = None  # no published head: this tick pins the modulus
        if props is not None:
            # a pre-pin table (created before the pin existed) has its
            # ids bucketed under the historical constant 16 — a caller
            # override would scatter existing ids into buckets the
            # bucket-scoped merge never reads (silent duplicates), so the
            # missing pin IS the constant, not a free slot
            pinned = props.get("loop.id_buckets", "16")
            if int(pinned) != id_buckets:
                raise ValueError(
                    f"id_buckets={id_buckets} drifts from the table's "
                    f"pinned modulus {pinned}; existing ids are bucketed "
                    "under the pin — pass the pinned value (re-bucketing "
                    "needs an explicit rebuild)"
                )
        pbkt = (F.crc32(F.col("_id")) % id_buckets).cast("int").alias("pbkt")
        return _loop_fetch(
            spark, base_url, window_end_ms, cutoff, extra_cols=[pbkt]
        )

    run_tick(
        spark,
        store,
        IncrementalTable("HttpSnapEvents", ["tenant", "_id"], "ts_ms"),
        table_path,
        "pbkt",
        fetch,
        "PK",
        3,
        now_ms=window_end_ms,
        login=lambda: transport.login("PK"),
        properties={"loop.id_buckets": str(id_buckets)},
        stable_partitions=True,
    )


@register(
    "http_loop_snapshot_sink",
    oracle=_loop_oracle(4, 2),
    tags=_LOOP_TAGS + ["S11", "snapshot"],
)
def http_loop_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production loop with a DURABLE sink, driven the way a daemon
    drives it: two ``_snapshot_loop_tick`` calls (``pipeline.run_tick``
    over live HTTP). Tick 1 lands the HTTP batch as a snapshot-isolated
    partitioned table; tick 2 re-reads the target and the checkpoint
    FROM DISK (nothing carried in memory across ticks — the
    restart-resume semantics a daemon restart needs), fetches only the
    post-watermark delta, and MERGEs it in ONE manifest publish
    (merge.merge_write_snapshot — BigQuery-atomic parity: a racing
    reader sees whole pre- or post-merge versions, never a partition
    mix). The returned frame is the final table read back from disk, so
    a torn commit, a lost update, or a checkpoint that advanced before
    the merge all break the DuckDB hash.

    Scale shape: the table is partitioned by a STABLE id bucket
    (updates never move partitions, so the tick passes
    ``stable_partitions=True``), and tick 2 merges through the
    SET-valued window (merge_write_snapshot's ``part_values`` = the
    delta's touched buckets): only those partitions are read and
    rewritten, the rest carry by manifest reference at zero I/O — the
    production O(touched) shape even when the touched set is not a
    contiguous range. Its twin ``http_incremental_loop`` drives the
    moved-key path. The checkpoint scalar and the <=16-value touched
    list are the only driver-side state."""
    import shutil as _shutil

    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.queries.sinks import _tmp
    from callio_etl_spark.snapshots import snapshot_read
    from callio_etl_spark.sources.paged_api import CallioPagedDataSource

    served, late_updates = _cohort_and_updates(spark, sf_dir, 4, 2)
    srv, base_url = _start_loop_server(served)
    root = _tmp("httpsnap")
    table_path = f"{root}/fact_events"
    try:
        spark.dataSource.register(CallioPagedDataSource)
        # durable seed: the watermark rides an audit row into the
        # update_log (a bare store.set would be memory-only — a restarted
        # process's warm() would cold-start to the 30-day lookback)
        store = CheckpointStore(
            spark, f"{root}/update_log", overlap_ms=_OVERLAP_MS
        )
        store.log("HttpSnapEvents", "PK", 0, _T0_MS, "NOOP")
        store.flush()

        _snapshot_loop_tick(spark, base_url, root, _CUTOFF_MS)
        # tick 2's ENTIRE state comes from DISK — target, checkpoint,
        # create-vs-merge decision (daemon-restart semantics; the
        # subprocess test drives the same helper across a real kill -9
        # process boundary)
        _land_updates(srv, late_updates)
        _snapshot_loop_tick(spark, base_url, root, _WINDOW_END_MS)

        _assert_multi_login(srv)
        result = snapshot_read(spark, table_path).select(
            "_id",
            "ts_ms",
            "user_id",
            "event_type",
            F.floor(F.col("value") * 1e6).cast("long").alias("value_fold"),
        )
        local_rows = result.collect()
        _shutil.rmtree(root, ignore_errors=True)
        return spark.createDataFrame(local_rows, result.schema)
    finally:
        srv.stop()


@register(
    "update_log_modes",
    oracle="""
WITH cust AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM customer WHERE c_custkey % 3 = 0
), ev1 AS (
  SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n,
         MAX(epoch_ms(ts)) AS mx
  FROM events WHERE event_id % 9 = 1
), ev2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(epoch_ms(ts)) AS mx
  FROM events WHERE event_id % 9 = 2
), nat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation
)
SELECT 'customer' AS table_name, 'STAGED' AS mode,
       CAST(1 AS BIGINT) AS n_entries,
       (SELECT n FROM cust) AS rows_sum,
       CAST(NULL AS BIGINT) AS ck_max
UNION ALL SELECT 'call_log', 'MERGED', CAST(1 AS BIGINT),
       (SELECT n FROM ev1), (SELECT mx FROM ev1)
UNION ALL SELECT 'call_log', 'NOOP', CAST(1 AS BIGINT),
       CAST(0 AS BIGINT), (SELECT mx FROM ev1)
UNION ALL SELECT 'call_log', 'ERROR_LOGIN', CAST(1 AS BIGINT),
       CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
UNION ALL SELECT 'call_log', 'APPEND', CAST(1 AS BIGINT),
       (SELECT n FROM ev2), (SELECT mx FROM ev2)
UNION ALL SELECT 'group', 'TRUNCATE', CAST(1 AS BIGINT),
       (SELECT n FROM nat), CAST(NULL AS BIGINT)
""",
    tags=["C5", "S8", "S9", "S13", "audit", "http"],
)
def update_log_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL audit-mode vocabulary (checkpoints.MODES),
    each mode emitted from its real trigger and read back from the
    update_log — the r12 verdict's one parity gap (modes were declared
    but only NOOP/MERGED ever landed; an operator asking the log "which
    tenant's login broke last night" got silence):

    - ERROR_LOGIN: a live-HTTP login with bad credentials (the real 401
      through HttpApiTransport) audited by pipeline.auth_guard — the
      tenant is skipped, checkpoint held (reference runner.py:535-537);
    - STAGED: the customer staging landing (pipeline.stage_batch,
      runner.py:139-146) with the staged row count, checkpoint NULL;
    - MERGED then NOOP: two durable ``run_tick`` passes over the same
      batch into a snapshot table, read back (the second sees nothing
      past the advanced watermark — runner.py:90, 547-554);
    - APPEND: the call-log append-with-checkpoint (pipeline.append_tick,
      runner.py:305-313) carrying the NEW checkpoint in the audit row;
    - TRUNCATE: the group snapshot replace (pipeline.snapshot_truncate,
      runner.py:405-413) under the ALL pseudo-tenant.

    The result aggregates the log per (table_name, mode) — entry count,
    summed rows_loaded, max checkpoint — so a missing emission, a wrong
    row count, a checkpoint that advanced on a failed login, or a NOOP
    that re-merged all break the DuckDB hash. Table names land
    normalized ('call-log' -> 'call_log'), pinning the reference's
    _normalize_table on the write path too."""
    import shutil as _shutil

    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.pipeline import (
        IncrementalTable,
        append_tick,
        auth_guard,
        run_tick,
        snapshot_truncate,
        stage_batch,
    )
    from callio_etl_spark.queries.sinks import _tmp
    from callio_etl_spark.snapshots import snapshot_read
    from callio_etl_spark.sources.local_api_server import LocalCallioApiServer
    from callio_etl_spark.sources.paged_api import HttpApiTransport

    root = _tmp("logmodes")
    # overlap 0 + deep lookback: tick 1 over 2024-dated fixtures takes the
    # whole cohort (cutoff far below the data), tick 2 sees nothing past
    # the advanced watermark -> NOOP (overlap would re-read the max row)
    store = CheckpointStore(
        spark, f"{root}/update_log", overlap_ms=0, lookback_days=36_500
    )

    # ERROR_LOGIN: real 401 over live HTTP; tenant skipped, ck held/NULL
    srv = LocalCallioApiServer([], accounts={"etl@example.com": "pw"})
    base_url = srv.start()
    try:
        transport = HttpApiTransport(
            base_url, email="etl@example.com", password="WRONG", tenant="T9"
        )
        assert (
            auth_guard(
                store, "call-log", "T9", lambda: transport.login("T9")
            )
            is None
        ), "bad credentials must not yield a token"
    finally:
        srv.stop()

    # STAGED: customer cohort lands in staging, checkpoint untouched
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_name", F.lit("T1").alias("tenant"))
    )
    stage_batch(store, "customer", "T1", cust, f"{root}/stg_customer")

    # MERGED then NOOP: the incremental tick pair over one batch, into a
    # snapshot table partitioned by tenant (a merge-key column, so
    # partition values never move)
    table = IncrementalTable(
        name="call-log", keys=["tenant", "_id"], time_col_ms="ts_ms"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 9 == 1)
        .select(
            F.col("event_id").cast("string").alias("_id"),
            F.unix_millis("ts").alias("ts_ms"),
            F.lit("T1").alias("tenant"),
            F.md5(F.col("event_id").cast("string")).alias("row_hash"),
        )
    )
    def tick() -> int | None:
        return run_tick(
            spark, store, table, f"{root}/call_log", "tenant",
            lambda cutoff: batch, "T1", 1,
            now_ms=_WINDOW_END_MS, stable_partitions=True,
        )

    tick()
    assert tick() is None, "second tick past the watermark must NOOP"
    merged = snapshot_read(spark, f"{root}/call_log")
    assert merged.count() == batch.select("_id").distinct().count()

    # APPEND: immutable call records straight into the target, audit row
    # carries the NEW checkpoint
    batch2 = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 9 == 2)
        .select(
            F.col("event_id").cast("string").alias("_id"),
            F.unix_millis("ts").alias("ts_ms"),
            F.lit("T2").alias("tenant"),
        )
    )
    append_tick(
        spark, store, table, batch2, f"{root}/call_log_append", "T2"
    )

    # TRUNCATE: whole-table dim snapshot under the ALL pseudo-tenant
    snapshot_truncate(
        spark,
        store,
        "group",
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        ),
        f"{root}/group_snap",
    )
    store.flush()

    log = snapshot_read(spark, f"{root}/update_log")
    result = log.groupBy("table_name", "mode").agg(
        F.count("*").cast("long").alias("n_entries"),
        F.sum("rows_loaded").cast("long").alias("rows_sum"),
        F.max("max_update_ms").cast("long").alias("ck_max"),
    )
    rows = result.collect()
    _shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)
