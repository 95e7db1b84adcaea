"""Incremental batch pipeline — the reference's per-tick orchestration
(SURVEY.md sections 2.9, 3.1-3.2) as a generic Spark flow.

Reference: runner.py:55-146 (customer tick), 523-563 (window merge + commit).
``run_tick`` is the engine's ONE incremental tick, shared by the CLI and
the HTTP loop rows: under the table's service lock it runs cutoff ->
fetch -> dedup latest-per-key -> windowed MERGE into the snapshot table
-> advance checkpoint -> audit log. The ordering is the exactly-once-ish
contract (C4): the checkpoint commits only after the MERGE published,
and the overlap re-read (C2) + conditional MERGE (J8) make replays
idempotent.

Tenants are a column, not a loop (SURVEY section 3.1): one DataFrame carries
all tenants through the same plan; per-tenant checkpoints come from one
group-by-max, not N queries.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from callio_etl_spark.checkpoints import CheckpointStore
from callio_etl_spark.dedup import latest_per_key


@contextlib.contextmanager
def single_writer_tick(spark: SparkSession, table_path: str):
    """Serialize a WHOLE incremental tick — read checkpoint -> fetch ->
    merge -> publish -> checkpoint advance — against a concurrent tick on
    the same durable target (a restarted daemon racing its predecessor, a
    double-started scheduler slot: the split-brain the reference's
    single-daemon deployment makes implicit, runner.py:55-210).

    The per-commit table lock serializes COMMITS but not the tick's
    read-modify-write: two ticks could both read target version v and
    merge against it, and the second publish would silently DROP the
    first's rows (and the doubled checkpoint flush could re-deliver or
    skip a window). So the tick holds the table's SERVICE lock, the same
    second-layer mutex the index maintainers hold; a second instance
    blocks at acquire, then runs against the updated target and
    checkpoint. ``run_tick`` fences before the publish and before the
    checkpoint flush, so a tick that lost this lock to a reclaim aborts
    instead of publishing over the new owner; its retry is idempotent
    (latest-per-key dedup + the row_hash-guarded MERGE).

    The acquire waits out a WHOLE tick plus the stale window (not the
    120 s per-commit default): a waiter that timed out mid-hold would
    crash the restarted daemon instead of serializing behind the live
    one; past stale_s a dead holder is reclaimed."""
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
    path: str,
    partition_col: str,
    fetch: Callable[[int], DataFrame],
    tenant: str,
    keep_snapshots: int,
    now_ms: int | None = None,
    login: Callable[[], object] | None = None,
    properties: dict | None = None,
    stable_partitions: bool = False,
) -> int | None:
    """The ONE incremental tick: one tenant's delta MERGEd into the
    snapshot table at ``path``, under ``single_writer_tick``. Returns the
    new checkpoint, or None when nothing merged.

    State comes from disk only (checkpoint warmed from the update_log,
    create-vs-merge from the published head), so a restarted process
    resumes where the last commit left off. Steps: warm; the optional
    ``auth_guard(login)`` (a failed login audits ERROR_LOGIN, checkpoint
    held); ``fetch(cutoff)`` filtered to ``tenant`` and ``time > cutoff``,
    deduped latest-per-key (D3) and checkpointed, so the source is read
    once; an empty delta audits NOOP; otherwise create the table (with
    ``properties``) or MERGE with the J8 condition through
    ``merge_write_snapshot``'s set window — the delta's partitions plus
    the ones its keys live in now, so a key whose partition value moved
    leaves no stale copy (``stable_partitions=True`` skips that lookup
    when the partition value is a function of the key); advance the
    checkpoint and audit MERGED (C4); flush and compact the update_log.
    The service-lock fence runs before the publish and before the flush,
    so a tick that lost its lock to a reclaim aborts first."""
    from callio_etl_spark.io import assert_service_fencing
    from callio_etl_spark.merge import MergeSpec, merge_write_snapshot
    from callio_etl_spark.snapshots import (
        snapshot_has_published_head,
        snapshot_partition_overwrite,
        snapshot_read,
    )

    n, new_ck, t = 0, None, table.time_col_ms
    with single_writer_tick(spark, path):
        store.warm()  # checkpoint from disk, AFTER the lock (no stale read)
        logged_in = login is None or (
            auth_guard(store, table.name, tenant, login) is not None
        )
        if logged_in:
            has_head = snapshot_has_published_head(spark, path)
            cutoff = store.cutoff_ms(table.name, tenant, now_ms)
            fresh = latest_per_key(  # D3, runner.py:165-173
                fetch(cutoff).where(
                    (F.col(table.tenant_col) == tenant)
                    & (F.col(t) > F.lit(cutoff))
                ),
                table.keys,
                F.col(t).cast("long"),
                [F.col("row_hash")],
            ).localCheckpoint(eager=True)
            n, new_ck = _stats(fresh, t)
        if n:
            assert_service_fencing(spark, path)
            if not has_head:
                snapshot_partition_overwrite(
                    spark, fresh, path, partition_col,
                    keep_snapshots=keep_snapshots, properties=properties,
                )
            else:
                touched = fresh.select(partition_col)
                if not stable_partitions:
                    touched = touched.union(
                        snapshot_read(spark, path)
                        .join(fresh.select(*table.keys), table.keys, "left_semi")
                        .select(partition_col)
                    )
                # J8 — update when the row actually changed or is newer
                cond = ~F.col("T.row_hash").eqNullSafe(F.col("S.row_hash")) | (
                    F.col(f"S.{t}").cast("long")
                    > F.coalesce(F.col(f"T.{t}").cast("long"), F.lit(0))
                )
                merge_write_snapshot(
                    spark, path, fresh,
                    MergeSpec(keys=table.keys, update_condition=cond),
                    partition_col, keep_snapshots=keep_snapshots,
                    part_values=[r[0] for r in touched.distinct().collect()],
                )
        assert_service_fencing(spark, path)
        if n:
            store.set(table.name, tenant, new_ck)
            store.log(table.name, tenant, n, new_ck, "MERGED")
        elif logged_in:
            store.log(table.name, tenant, 0, store.get(table.name, tenant), "NOOP")
        store.flush()
        # a NOOP tick compacts too: an idle daemon would otherwise grow
        # the log by one data dir per tick
        store.compact_if_needed()
    return new_ck if n else None


# ---------------------------------------------------------------------------
# The reference's remaining audit-mode emission sites (C5 vocabulary —
# checkpoints.MODES): run_tick above covers NOOP/MERGED (and ERROR_LOGIN
# through auth_guard); these verbs cover
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
