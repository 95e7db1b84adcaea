"""Incremental batch pipeline — the reference's per-tick orchestration
(SURVEY.md sections 2.9, 3.1-3.2) as a generic Spark flow.

Reference: runner.py:55-146 (customer tick), 523-563 (window merge + commit).
One tick = cutoff -> scan filter -> transform -> dedup latest-per-key ->
MERGE into target -> advance checkpoint -> audit log. The ordering is the
exactly-once-ish contract (C4): the checkpoint commits only after a
successful merge, and the overlap re-read (C2) + conditional MERGE (J8) make
replays idempotent.

Tenants are a column, not a loop (SURVEY section 3.1): one DataFrame carries
all tenants through the same plan; per-tenant checkpoints come from one
group-by-max, not N queries.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from callio_etl_spark.checkpoints import CheckpointStore
from callio_etl_spark.dedup import latest_per_key
from callio_etl_spark.merge import MergeSpec, merge_upsert


@contextlib.contextmanager
def single_writer_tick(spark: SparkSession, table_path: str):
    """Serialize a WHOLE incremental-loop tick — read checkpoint -> fetch
    -> merge -> publish -> checkpoint advance — against a concurrent loop
    instance on the same durable target (a restarted daemon racing its
    predecessor, a double-started scheduler slot: exactly the split-brain
    the reference's single-daemon deployment makes implicit,
    runner.py:55-210).

    The per-commit table lock inside the merge publish serializes COMMITS
    but not the tick's read-modify-write: two loop instances could both
    read target version v, both merge their overlapping delta, and the
    second publish — computed against v, not v+1 — would silently DROP
    the first's rows (and the doubled checkpoint flush could re-deliver
    or skip a window). The tick therefore runs under the table's SERVICE
    lock, the same second-layer mutex the index maintainers hold across
    their multi-commit sequences; a second loop instance blocks at
    acquire and then runs against the updated target + checkpoint.

    Callers MUST call ``io.assert_service_fencing(spark, table_path)``
    immediately before the merge publish and before the checkpoint flush:
    a tick that stalled past the stale window and lost this lock to a
    reclaim then aborts loudly instead of publishing over the new owner —
    and its retry under a fresh lock is idempotent (latest-per-key dedup
    + the row_hash-guarded MERGE make a replayed delta a no-op).

    The acquire waits out a WHOLE tick plus the stale window (not the
    120 s per-commit default): a tick can legitimately run minutes on a
    backlog window, and a waiter that timed out mid-hold would crash the
    restarted daemon instead of serializing behind the live one; past
    stale_s a genuinely dead holder is reclaimed and the waiter
    proceeds."""
    from callio_etl_spark.io import (
        acquire_service_lock,
        release_service_lock,
    )

    acquire_service_lock(spark, table_path)
    try:
        yield
    finally:
        release_service_lock(spark, table_path)


@dataclass
class IncrementalTable:
    name: str
    keys: list[str]  # merge key, e.g. ["tenant", "_id"]
    time_col_ms: str  # event-time column driving the checkpoint
    tenant_col: str = "tenant"


def run_tick(
    spark: SparkSession,
    store: CheckpointStore,
    table: IncrementalTable,
    batch: DataFrame,
    target: DataFrame | None,
    tenant: str,
    now_ms: int | None = None,
) -> tuple[DataFrame, int | None]:
    """One incremental tick for one tenant; returns (merged_target, new_ck).

    batch is the already-transformed incoming frame (flatten.* output). The
    caller persists merged_target, then calls commit() — never before
    (C4 ordering, runner.py:547-554)."""
    cutoff = store.cutoff_ms(table.name, tenant, now_ms)
    fresh = batch.where(
        (F.col(table.tenant_col) == tenant) & (F.col(table.time_col_ms) > F.lit(cutoff))
    )
    # D3 — one source row per key, newest wins (runner.py:165-173).
    fresh = latest_per_key(
        fresh, table.keys, F.col(table.time_col_ms).cast("long"), [F.col("row_hash")]
    )

    row_count, max_ms = _stats(fresh, table.time_col_ms)
    if row_count == 0:
        store.log(table.name, tenant, 0, store.get(table.name, tenant), "NOOP")
        return target if target is not None else fresh.limit(0), None

    if target is None:
        merged = fresh
    else:
        # J8 — update when the row actually changed or is newer.
        cond = (~F.col("T.row_hash").eqNullSafe(F.col("S.row_hash"))) | (
            F.col(f"S.{table.time_col_ms}").cast("long")
            > F.coalesce(F.col(f"T.{table.time_col_ms}").cast("long"), F.lit(0))
        )
        merged = merge_upsert(target, fresh, MergeSpec(keys=table.keys, update_condition=cond))
    store.log(table.name, tenant, row_count, max_ms, "MERGED")
    return merged, max_ms


def commit(store: CheckpointStore, table: IncrementalTable, tenant: str, new_ck: int | None) -> None:
    """C4 — advance the checkpoint after the merged result is persisted."""
    if new_ck is not None:
        store.set(table.name, tenant, new_ck)
    store.flush()


# ---------------------------------------------------------------------------
# The reference's remaining audit-mode emission sites (C5 vocabulary —
# checkpoints.MODES): run_tick above covers NOOP/MERGED; these verbs cover
# STAGED (the staging landing, runner.py:144/382), APPEND (the call-log
# append-with-checkpoint, runner.py:305-313), TRUNCATE (the group snapshot
# replace, runner.py:410-413), and ERROR_LOGIN (the per-tenant auth-failure
# skip, runner.py:90/363/400/536/575). An operator reading the update_log
# can then answer "which tenant's login broke last night" — the exact
# signal the r12 rebuild dropped.
# ---------------------------------------------------------------------------


def auth_guard(
    store: CheckpointStore, table: str, tenant: str, login_fn
):
    """ERROR_LOGIN — run ``login_fn`` (any callable that raises or returns
    falsy on auth failure, e.g. the HTTP transport's post-retry login);
    on failure audit the tenant and return None so the caller SKIPS the
    tenant with its checkpoint held (reference runner.py:535-537: a
    failed login never advances state, and the nightly operator sees an
    ERROR_LOGIN row instead of silence). Returns the token on success."""
    try:
        token = login_fn()
    except Exception as exc:
        # the reference's get_token swallows ANY failure into a falsy
        # token (api.py error path), so a network outage also audits
        # ERROR_LOGIN — but the real exception must not vanish: the
        # operator triaging the audit row needs it in the service log
        import logging

        logging.getLogger(__name__).warning(
            "[%s][%s] login failed: %s", tenant, table, exc
        )
        token = None
    if not token:
        store.log(table, tenant, 0, store.get(table, tenant), "ERROR_LOGIN")
        return None
    return token


def stage_batch(
    store: CheckpointStore,
    table: str,
    tenant: str,
    batch: DataFrame,
    staging_path: str,
) -> int:
    """STAGED — land the transformed batch in its staging table (S13, a
    whole snapshot table: one ``snapshot_append`` per landing) and audit
    the landing with the staged row count, checkpoint untouched (the
    checkpoint advances only when the later MERGE commits — reference
    runner.py:139-146: customer rows are STAGED per tenant, merged per
    window). Returns the staged row count."""
    from callio_etl_spark.snapshots import snapshot_append

    # pin the batch across the count + write pair: the audited row count
    # must equal the rows actually staged even under a nondeterministic
    # upstream (the reference reads the count off the finished load job)
    batch = batch.persist()
    try:
        n = batch.count()
        if n == 0:
            store.log(table, tenant, 0, None, "NOOP")
            return 0
        snapshot_append(batch.sparkSession, batch, staging_path, None)
        store.log(table, tenant, n, None, "STAGED")
        return n
    finally:
        batch.unpersist()


def append_tick(
    spark: SparkSession,
    store: CheckpointStore,
    table: IncrementalTable,
    batch: DataFrame,
    target_path: str,
    tenant: str,
) -> int | None:
    """APPEND — the reference's call-log shape (runner.py:295-313):
    append-only facts land straight in the target (no MERGE — call
    records are immutable; one whole-table ``snapshot_append``), the
    checkpoint advances to the batch's max event time, and the audit row
    carries the NEW checkpoint. Returns the new checkpoint (None on an
    empty batch, which audits NOOP)."""
    from callio_etl_spark.snapshots import snapshot_append

    fresh = batch.where(F.col(table.tenant_col) == tenant).persist()
    try:
        row_count, max_ms = _stats(fresh, table.time_col_ms)
        if row_count == 0:
            store.log(
                table.name, tenant, 0, store.get(table.name, tenant), "NOOP"
            )
            return None
        snapshot_append(spark, fresh, target_path, None)
        prior = store.get(table.name, tenant)
        if prior is None or (max_ms is not None and max_ms > prior):
            store.set(table.name, tenant, max_ms)
        store.log(
            table.name, tenant, row_count,
            store.get(table.name, tenant), "APPEND",
        )
        return store.get(table.name, tenant)
    finally:
        fresh.unpersist()


def snapshot_truncate(
    spark: SparkSession,
    store: CheckpointStore,
    table: str,
    df: DataFrame,
    path: str,
    tenant: str = "ALL",
    keep_snapshots: int = 1,
) -> int:
    """TRUNCATE — the reference's group-snapshot shape (runner.py:405-413):
    the dimension is small and ownership-free, so each snapshot replaces
    the whole table (S9, one ``snapshot_overwrite`` commit) and audits the
    replaced row count under the ALL pseudo-tenant; no checkpoint
    (snapshots are not incremental). ``keep_snapshots`` bounds the
    table's retained history for rollback, the same knob as every other
    snapshot table. Returns the loaded row count."""
    from callio_etl_spark.snapshots import snapshot_overwrite

    df = df.persist()  # count + staged write read the same rows
    try:
        n = df.count()
        snapshot_overwrite(spark, df, path, keep_snapshots=keep_snapshots)
        store.log(table, tenant, n, None, "TRUNCATE")
        return n
    finally:
        df.unpersist()


def _stats(df: DataFrame, time_col_ms: str) -> tuple[int, int | None]:
    """A7 — the sanctioned driver-side collect: one row of scalars."""
    row = df.agg(
        F.count("*").alias("n"), F.max(F.col(time_col_ms).cast("long")).alias("mx")
    ).collect()[0]
    return row["n"], row["mx"]
