"""CLI entry — the reference's ``python -m callio_etl --mode once|daemon
--job all|customer|call|staffgroup`` surface (reference __main__.py:11-34,
runner.py:967-1010) over the engine's fixture schema (FIXTURES.md mapping:
events = call_log, orders = customer-assignment stream).

``once`` runs one incremental tick per selected job — ``pipeline.run_tick``,
the same durable, service-locked tick the HTTP loop rows run (scan ->
dedup -> windowed MERGE -> checkpoint commit -> audit log) — and then
refreshes the two reporting facts (the reference's post-run hook,
runner.py:1004-1008). ``daemon`` wraps the same ticks in the slot
scheduler (scheduler.run_daemon).

Every warehouse table is a snapshot table (snapshots.py): the tick
tables (call_log, customer) month-partitioned, the whole-table outputs
(staff, group, the two reporting facts, curated_docs, curated_shards)
through ``snapshot_overwrite``. Each keeps ``--keep-versions`` older
versions besides the live one. ``versions`` / ``restore`` list and roll
back the tick tables' manifest history;
``tag`` / ``drop-tag`` name an immutable ref on the published head
(vacuum-pinned provenance pointer), ``publish`` / ``discard-staged``
complete or abandon a write-audit-publish cycle staged by the library
API; ``evolve-spec`` / ``rename-column`` / ``drop-column`` are
metadata-only table evolution.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from callio_etl_spark.checkpoints import CheckpointStore
from callio_etl_spark.config import EngineConfig
from callio_etl_spark.functions import row_hash
from callio_etl_spark.pipeline import IncrementalTable, run_tick
from callio_etl_spark.snapshots import _snapshot_table_at
from callio_etl_spark.tables import load_table

TENANT = "PK"


def _prepared_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumns(
        {"tenant": F.lit(TENANT), "createTime": F.unix_millis("ts")}
    )
    return e.withColumn("row_hash", row_hash(e))


def _prepared_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumns(
        {"tenant": F.lit(TENANT), "updateTime": F.unix_millis("o_orderdate")}
    )
    return o.withColumn("row_hash", row_hash(o))


JOB_TABLES = {
    "call": (IncrementalTable("call_log", ["tenant", "event_id"], "createTime"), _prepared_events),
    "customer": (IncrementalTable("customer", ["tenant", "o_orderkey"], "updateTime"), _prepared_orders),
}


def _month_of(time_col_ms: str):
    """yyyy-MM partition value from the epoch-ms checkpoint column — the
    reference's BigQuery targets are date-partitioned (S12); month grain
    keeps the manifest at thousands of entries across decades."""
    return F.date_format(
        F.timestamp_millis(F.col(time_col_ms).cast("long")), "yyyy-MM"
    )


def _tick(spark: SparkSession, cfg: EngineConfig, store: CheckpointStore, job: str) -> None:
    """One incremental tick of ``job``: ``pipeline.run_tick`` into the
    snapshot table ``<work_dir>/<table>``, partitioned by ``ym`` (yyyy-MM
    of the event time), so an update crossing a month boundary retires
    its old copy and untouched months carry over by reference. A plain
    parquet table at the path is refused before the lock is taken or
    anything fetched: the checkpoint already covers its rows, so
    treating it as empty would publish only the overlap slice."""
    from callio_etl_spark.logging_utils import job_stage

    table, prepare = JOB_TABLES[job]
    path = os.path.join(cfg.work_dir, table.name).rstrip("/")
    _snapshot_table_at(
        spark,
        path,
        f"add ym = date_format(timestamp_millis({table.time_col_ms}), "
        f"'yyyy-MM'), snapshot_partition_overwrite it by 'ym'",
    )

    def fetch(cutoff: int) -> DataFrame:
        batch = prepare(spark, cfg.sf_dir)
        if cfg.limit_records:
            batch = batch.orderBy(F.col(table.time_col_ms).desc()).limit(
                cfg.limit_records
            )
        return batch.withColumn("ym", _month_of(table.time_col_ms))

    # job_stage labels every Spark job of this tick in the UI/history
    # server (the reference's per-step progress bars, runner.py:356-567,
    # rendered the cluster way) and gives operators a cancellable group.
    with job_stage(spark, f"tick:{table.name}"):
        run_tick(
            spark, store, table, path, "ym", fetch, TENANT,
            _keep_snapshots(cfg),
        )


def _keep_snapshots(cfg: EngineConfig) -> int:
    """Versions every warehouse table keeps: the live one plus
    ``keep_versions`` older ones."""
    return max(cfg.keep_versions, 0) + 1


def _refresh_reports(spark: SparkSession, cfg: EngineConfig) -> None:
    from callio_etl_spark.registry import all_queries
    from callio_etl_spark.snapshots import snapshot_overwrite

    qs = all_queries()
    outs = {
        name: os.path.join(cfg.work_dir, name)
        for name in ("fact_staff_daily", "fact_status_pivot")
    }
    for out in outs.values():
        _snapshot_table_at(spark, out)
    for name, out in outs.items():
        snapshot_overwrite(
            spark, qs[name](spark, cfg.sf_dir), out,
            keep_snapshots=_keep_snapshots(cfg),
        )


def _staff_group_snapshot(
    spark: SparkSession, cfg: EngineConfig, store: CheckpointStore
) -> None:
    """The reference's DAILY staff+group snapshot job (runner.py:354-415),
    emitting the full audit vocabulary: staff rows land in staging
    (STAGED), dedup to latest-per-(tenant, name), and MERGE into the dim
    with the reference's conditional arms — row_hash drift OR newer
    updateTime (runner.py:450-456) — audited MERGED; the group dim
    replaces WHOLE each snapshot (TRUNCATE, runner.py:409-413). Empty
    fetches audit NOOP. Tenants are a column, one frame carries all
    (SURVEY 3.1); supplier/nation stand in for the staff/group
    endpoints at fixture scale, exactly as orders/events stand in for
    customer/call_log in JOB_TABLES. Both dims are whole-table snapshot
    tables (``snapshot_overwrite``): small, unpartitioned, replaced or
    merged whole, with the same history as every other warehouse
    table."""
    from callio_etl_spark.dedup import latest_per_key
    from callio_etl_spark.io import _delete, _exists, _hadoop
    from callio_etl_spark.merge import MergeSpec, merge_upsert
    from callio_etl_spark.pipeline import snapshot_truncate, stage_batch
    from callio_etl_spark.snapshots import snapshot_overwrite, snapshot_read

    path = os.path.join(cfg.work_dir, "staff")
    group_path = os.path.join(cfg.work_dir, "group")
    staff_exists = _snapshot_table_at(spark, path)
    _snapshot_table_at(spark, group_path)

    # No updateTime: the staff endpoint's snapshot rows carry none here,
    # and the reference's schema-dynamic MERGE adds the newer-updateTime
    # arm ONLY when both sides have the column (runner.py:447-449) — a
    # fabricated clock value would make that arm vacuously true and turn
    # the row_hash guard into dead code (every run would rewrite every
    # row).
    staff = load_table(spark, cfg.sf_dir, "supplier").select(
        F.lit(TENANT).alias("tenant"),
        F.col("s_name").alias("name"),
        F.col("s_suppkey").cast("string").alias("_id"),
        F.col("s_nationkey").cast("string").alias("group_id"),
    )
    # F2 guard before the load (runner.py:373-376): blank names never stage
    staff = staff.where(F.col("name").isNotNull() & (F.trim("name") != ""))
    staff = staff.withColumn("row_hash", row_hash(staff))
    stg = os.path.join(cfg.work_dir, "stg_staff")
    # per-run scratch, NOT an accumulating table: a crash between a prior
    # run's STAGED and its MERGE leaves stale rows here, and the next
    # run's append-then-read would merge them alongside fresh rows —
    # resurrecting keys absent from the new snapshot and understating the
    # MERGED audit count. Clear before staging each snapshot run.
    jvm, fs, _ = _hadoop(spark, stg)
    if _exists(jvm, fs, stg):
        _delete(jvm, fs, stg)
    n = stage_batch(store, "staff", "ALL", staff, stg)
    if n:
        target = snapshot_read(spark, path) if staff_exists else None
        staged = snapshot_read(spark, stg)
        # one staged row per key, deterministic pick (max _id) — the
        # reference's ROW_NUMBER dedup falls back to `name` ordering
        # when no updateTime exists (runner.py:470)
        fresh = latest_per_key(
            staged, ["tenant", "name"], F.col("_id"), [F.col("row_hash")]
        )
        if target is None:
            merged = fresh
        else:
            # hash-drift arm only (the updateTime arm applies only when
            # the column exists on both sides, runner.py:447-456)
            cond = ~F.col("T.row_hash").eqNullSafe(F.col("S.row_hash"))
            merged = merge_upsert(
                target, fresh,
                MergeSpec(keys=["tenant", "name"], update_condition=cond),
            )
        snapshot_overwrite(
            spark, merged, path, keep_snapshots=_keep_snapshots(cfg)
        )
        # audit carries the STAGED count, mirroring the reference
        # (runner.py:382-385 logs the same `rows` on both rows)
        store.log("staff", "ALL", n, None, "MERGED")
        # staging is consumed by the merge (the reference drops stg_staff
        # after a successful MERGE) — next snapshot stages fresh
        _delete(jvm, fs, stg)
    group = load_table(spark, cfg.sf_dir, "nation").select(
        F.lit(TENANT).alias("tenant"),
        F.col("n_nationkey").cast("string").alias("_id"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("string").alias("region_id"),
    )
    snapshot_truncate(
        spark, store, "group", group, group_path,
        keep_snapshots=_keep_snapshots(cfg),
    )
    store.flush()


def _curate(spark: SparkSession, cfg: EngineConfig) -> dict:
    """The training-data curation pipeline as ONE CLI job — the llm_ops
    operators composed the way a corpus build actually runs them:

      1. rule filter (corpus_filter: length / repetition / language),
      2. exact dedup (content_fp fingerprint, first-wins AMONG SURVIVORS
         of stage 1),
      3. near-dup dedup (the MinHash->LSH->Jaccard->connected-components
         cluster table; each cluster keeps its smallest doc_id STILL
         ALIVE after stages 1-2 — picking the global canonical instead
         would silently delete all copies of any content whose canonical
         was itself filtered out),
      4. token-balanced shard assignment (sampling.assign_shards — the
         same layout rule shard_manifest proves against its oracle),

    with both outputs (curated_docs, curated_shards) committed as
    whole-table snapshot tables (``snapshot_overwrite``, keeping
    --keep-versions older versions). The curated frame is
    localCheckpointed once, so the write, the manifest, and the
    curated/shard counts read the materialized
    stage; the after_filter / after_exact_dedup accounting deliberately
    re-runs its own (shorter) lineage once each — drop those two counts
    in a deployment that doesn't want the extra passes. Returns the
    per-stage row accounting (also logged)."""
    from callio_etl_spark.llm_ops.dedup_ops import (
        _pipeline_clusters,
        content_fp,
        plan_band_geometry_measured,
    )
    from callio_etl_spark.llm_ops.sampling import (
        SHARD_TOKENS,
        assign_shards,
        shard_summary,
    )
    from callio_etl_spark.llm_ops.text_analysis import TOKEN_RE, corpus_filter
    from callio_etl_spark.logging_utils import job_stage
    from callio_etl_spark.snapshots import snapshot_overwrite

    docs_path = os.path.join(cfg.work_dir, "curated_docs")
    shards_path = os.path.join(cfg.work_dir, "curated_shards")
    for out in (docs_path, shards_path):
        _snapshot_table_at(spark, out)
    with job_stage(spark, "curate:documents"):
        d = load_table(spark, cfg.sf_dir, "documents")
        n_input = d.count()

        # 1. rule filter — keep flag from the oracle-proven operator
        kept_ids = corpus_filter(spark, cfg.sf_dir).where(F.col("keep") == 1)
        kept = d.join(kept_ids.select("doc_id"), "doc_id", "left_semi")

        # 2. exact dedup among stage-1 survivors: first-wins per
        # content fingerprint (one shuffle on the shared md5 identity)
        canon = (
            kept.select("doc_id", content_fp().alias("fp"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        exact = kept.join(canon.select("doc_id"), "doc_id", "left_semi")

        # 3. near-dup: keep each cluster's smallest doc_id STILL ALIVE
        # (clusters come from the full corpus — the memoized table a
        # production pipeline persists — but the representative must be
        # chosen among current survivors, not the global canonical).
        # The band geometry is PLANNED from corpus stats, not hard-coded:
        # measured single-row collision rate on the exact-rep survivors +
        # the rep count pick the shortest key that holds the occupancy
        # budget, so the same CLI keeps its probe join linear as the
        # corpus grows 10x (the occupancy policy SCALE_CURVE measured).
        n_reps = exact.count()
        geometry = plan_band_geometry_measured(exact)
        logging.getLogger(__name__).info(
            "curate: planned band geometry %dx%d (n_reps=%d)",
            geometry[0], geometry[1], n_reps,
        )
        clusters = _pipeline_clusters(spark, cfg.sf_dir, geometry=geometry)
        alive = exact.select("doc_id").join(clusters, "doc_id")
        reps = alive.groupBy("cluster_id").agg(F.min("doc_id").alias("doc_id"))
        curated = exact.join(reps.select("doc_id"), "doc_id", "left_semi")

        # 4. token-balanced shards over the curated corpus, then ONE
        # materialization that the write, manifest, and counts all read
        toks = F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
        )
        t = curated.select("doc_id", toks.cast("long").alias("tokens"))
        sharded = assign_shards(t, SHARD_TOKENS)
        out_docs = curated.join(
            sharded.select("doc_id", "shard", "tokens"), "doc_id"
        ).localCheckpoint(eager=True)
        manifest = shard_summary(out_docs.select("doc_id", "tokens", "shard"))
        keep = _keep_snapshots(cfg)
        snapshot_overwrite(spark, out_docs, docs_path, keep_snapshots=keep)
        snapshot_overwrite(spark, manifest, shards_path, keep_snapshots=keep)
        return {
            "input_docs": n_input,
            "after_filter": kept.count(),
            "after_exact_dedup": n_reps,
            "curated_docs": out_docs.count(),
            "shards": manifest.count(),
        }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="callio_etl_spark")
    p.add_argument(
        "--mode",
        choices=[
            "once",
            "daemon",
            "versions",
            "restore",
            "curate",
            "tag",
            "drop-tag",
            "publish",
            "discard-staged",
            "evolve-spec",
            "rename-column",
            "drop-column",
        ],
        default="once",
    )
    p.add_argument(
        "--job",
        choices=["all", "customer", "call", "staff_group"],
        default="all",
    )
    p.add_argument("--sf-dir", default=None)
    p.add_argument("--work-dir", default=None)
    p.add_argument(
        "--keep-versions",
        type=int,
        default=None,
        help="older snapshot versions kept per warehouse table (time travel)",
    )
    p.add_argument(
        "--restore-version",
        type=int,
        default=None,
        help="with --mode restore: snapshot version to roll the table back to",
    )
    p.add_argument(
        "--tag-name",
        default=None,
        help="with --mode tag/drop-tag: the immutable ref name",
    )
    p.add_argument(
        "--snapshot-version",
        type=int,
        default=None,
        help="with --mode tag: version to tag (default: published head); "
        "with --mode publish/discard-staged: the staged version",
    )
    p.add_argument(
        "--partition-col",
        default=None,
        help="with --mode evolve-spec: the new partition column",
    )
    p.add_argument(
        "--column",
        default=None,
        help="with --mode rename-column/drop-column: the (old) column name",
    )
    p.add_argument(
        "--new-name",
        default=None,
        help="with --mode rename-column: the new column name",
    )
    args = p.parse_args(argv)

    cfg = EngineConfig.from_env()
    if args.sf_dir:
        cfg.sf_dir = args.sf_dir
    if args.work_dir:
        cfg.work_dir = args.work_dir
    if args.keep_versions is not None:
        cfg.keep_versions = args.keep_versions
    os.makedirs(cfg.work_dir, exist_ok=True)

    from callio_etl_spark.session import get_spark

    spark = get_spark("callio-etl-cli", cpus=cfg.cpus)
    store = CheckpointStore(
        spark,
        os.path.join(cfg.work_dir, "update_log"),
        overlap_ms=cfg.overlap_ms,
        lookback_days=cfg.lookback_days,
    )
    store.warm()

    # staff_group is the reference's daily SNAPSHOT job (runner.py:354-415),
    # not an incremental tick — it rides run_once after the tick jobs (and
    # alone via --job staff_group); the table-maintenance modes below
    # (versions/restore/tag/...) address tick tables only.
    want_snapshot_job = args.job in ("all", "staff_group")
    jobs = (
        list(JOB_TABLES)
        if args.job == "all"
        else ([] if args.job == "staff_group" else [args.job])
    )
    if args.mode not in ("once", "daemon", "curate") and args.job == "staff_group":
        p.error(f"--mode {args.mode} addresses tick tables, not staff_group")

    from callio_etl_spark.logging_utils import configure_logging, track_progress

    log = configure_logging(os.environ.get("LOG_LEVEL", "INFO"))

    def run_once() -> None:
        for job in track_progress(jobs, "jobs", logger=log):
            _tick(spark, cfg, store, job)
        if want_snapshot_job:
            _staff_group_snapshot(spark, cfg, store)
        _refresh_reports(spark, cfg)  # post-run hook (runner.py:1004-1008)

    if args.mode == "versions":
        from callio_etl_spark.snapshots import snapshot_history

        for job in jobs:
            path = os.path.join(cfg.work_dir, JOB_TABLES[job][0].name)
            print(f"{JOB_TABLES[job][0].name}: {snapshot_history(spark, path)}")
    elif args.mode == "restore":
        if args.restore_version is None:
            p.error("--mode restore requires --restore-version")
        if args.job == "all":
            p.error("--mode restore requires a single --job")
        path = os.path.join(cfg.work_dir, JOB_TABLES[args.job][0].name)
        from callio_etl_spark.snapshots import snapshot_restore

        snapshot_restore(
            spark,
            path,
            args.restore_version,
            keep_snapshots=max(cfg.keep_versions, 1) + 1,
        )
    elif args.mode in ("evolve-spec", "rename-column", "drop-column"):
        # table-evolution verbs: metadata-only commits — spec evolution
        # and column rename/drop never rewrite a data file (snapshots.py
        # era-aware reads resolve history)
        if args.job == "all":
            p.error(f"--mode {args.mode} requires a single --job")
        path = os.path.join(cfg.work_dir, JOB_TABLES[args.job][0].name)
        keep = max(cfg.keep_versions, 1) + 1
        if args.mode == "evolve-spec":
            if not args.partition_col:
                p.error("--mode evolve-spec requires --partition-col")
            from callio_etl_spark.snapshots import snapshot_evolve_spec

            v = snapshot_evolve_spec(
                spark, path, args.partition_col, keep_snapshots=keep
            )
            print(f"evolved spec -> {args.partition_col} at v{v}")
        elif args.mode == "rename-column":
            if not args.column or not args.new_name:
                p.error("--mode rename-column requires --column and --new-name")
            from callio_etl_spark.snapshots import snapshot_rename_column

            v = snapshot_rename_column(
                spark, path, args.column, args.new_name, keep_snapshots=keep
            )
            print(f"renamed {args.column} -> {args.new_name} at v{v}")
        else:
            if not args.column:
                p.error("--mode drop-column requires --column")
            from callio_etl_spark.snapshots import snapshot_drop_column

            v = snapshot_drop_column(
                spark, path, args.column, keep_snapshots=keep
            )
            print(f"dropped {args.column} at v{v}")
    elif args.mode in ("tag", "drop-tag", "publish", "discard-staged"):
        # snapshot-store ops surface: name a training corpus (tag), and
        # complete/abandon a write-audit-publish cycle staged by a
        # pipeline run or the library API
        if args.job == "all":
            p.error(f"--mode {args.mode} requires a single --job")
        path = os.path.join(cfg.work_dir, JOB_TABLES[args.job][0].name)
        keep = max(cfg.keep_versions, 1) + 1
        if args.mode == "tag":
            if not args.tag_name:
                p.error("--mode tag requires --tag-name")
            from callio_etl_spark.snapshots import snapshot_tag

            v = snapshot_tag(
                spark, path, args.tag_name, version=args.snapshot_version
            )
            print(f"tagged {args.tag_name} -> v{v}")
        elif args.mode == "drop-tag":
            if not args.tag_name:
                p.error("--mode drop-tag requires --tag-name")
            from callio_etl_spark.snapshots import snapshot_drop_tag

            snapshot_drop_tag(spark, path, args.tag_name)
            print(f"dropped tag {args.tag_name}")
        elif args.mode == "publish":
            if args.snapshot_version is None:
                p.error("--mode publish requires --snapshot-version")
            from callio_etl_spark.snapshots import snapshot_publish

            v = snapshot_publish(
                spark, path, args.snapshot_version, keep_snapshots=keep
            )
            print(f"published v{args.snapshot_version} -> live v{v}")
        else:
            if args.snapshot_version is None:
                p.error("--mode discard-staged requires --snapshot-version")
            from callio_etl_spark.snapshots import snapshot_discard_staged

            snapshot_discard_staged(
                spark, path, args.snapshot_version, keep_snapshots=keep
            )
            print(f"discarded staged v{args.snapshot_version}")
    elif args.mode == "curate":
        counts = _curate(spark, cfg)
        log.info("curate: %s", counts)
        print(counts)
    elif args.mode == "once":
        run_once()
    else:
        from callio_etl_spark.scheduler import run_daemon

        # the tick jobs ride the run-time slots; staff/group rides its OWN
        # daily slot (reference config.py:170-176, runner.py:1001-1003)
        daemon_jobs: dict = {}
        if jobs:

            def run_ticks() -> None:
                for job in jobs:
                    _tick(spark, cfg, store, job)
                _refresh_reports(spark, cfg)

            daemon_jobs["tick"] = run_ticks
        if want_snapshot_job:
            daemon_jobs["staff_group"] = lambda: _staff_group_snapshot(
                spark, cfg, store
            )
        run_daemon(
            daemon_jobs,
            cfg.run_times,
            job_times={"staff_group": cfg.staff_group_times},
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
