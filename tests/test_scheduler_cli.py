"""Scheduler slot math (C6) and the CLI once-mode end-to-end (reference
__main__ parity): deterministic clock-injected scheduling tests plus a
two-run idempotency check of `--mode once --job all`.
"""

from __future__ import annotations

import datetime as dt

from callio_etl_spark.scheduler import (
    due,
    next_slot,
    parse_run_times,
    prev_slot,
    run_daemon,
    sleep_seconds,
)

UTC = dt.timezone.utc
TIMES = parse_run_times("02:30,04:00,11:00")


def test_slot_math_same_day_and_wraparound():
    now = dt.datetime(2024, 5, 2, 5, 0, tzinfo=UTC)
    assert prev_slot(now, TIMES) == dt.datetime(2024, 5, 2, 4, 0, tzinfo=UTC)
    assert next_slot(now, TIMES) == dt.datetime(2024, 5, 2, 11, 0, tzinfo=UTC)
    early = dt.datetime(2024, 5, 2, 1, 0, tzinfo=UTC)
    assert prev_slot(early, TIMES) == dt.datetime(2024, 5, 1, 11, 0, tzinfo=UTC)
    late = dt.datetime(2024, 5, 2, 23, 0, tzinfo=UTC)
    assert next_slot(late, TIMES) == dt.datetime(2024, 5, 3, 2, 30, tzinfo=UTC)


def test_due_skip_if_already_ran():
    now = dt.datetime(2024, 5, 2, 5, 0, tzinfo=UTC)
    assert due(None, now, TIMES)  # never ran
    ran_after_slot = dt.datetime(2024, 5, 2, 4, 30, tzinfo=UTC)
    assert not due(ran_after_slot, now, TIMES)  # 04:00 slot already consumed
    ran_before_slot = dt.datetime(2024, 5, 2, 3, 0, tzinfo=UTC)
    assert due(ran_before_slot, now, TIMES)  # 04:00 fired since


def test_sleep_capped_at_poll_ceiling():
    now = dt.datetime(2024, 5, 2, 5, 0, tzinfo=UTC)
    assert sleep_seconds(now, TIMES) == 300  # 6 h away -> capped
    near = dt.datetime(2024, 5, 2, 10, 58, tzinfo=UTC)
    assert sleep_seconds(near, TIMES) == 120


def test_daemon_error_isolation_and_skip():
    """A failing job never stops the loop; a job that ran is skipped until
    the next slot fires."""
    calls = {"good": 0, "bad": 0}
    errors = []
    clock_ticks = iter(
        [
            dt.datetime(2024, 5, 2, 4, 1, tzinfo=UTC),  # iter 1 now
            dt.datetime(2024, 5, 2, 4, 1, tzinfo=UTC),  # iter 1 sleep calc
            dt.datetime(2024, 5, 2, 4, 2, tzinfo=UTC),  # iter 2: same slot
            dt.datetime(2024, 5, 2, 4, 2, tzinfo=UTC),
            dt.datetime(2024, 5, 2, 11, 1, tzinfo=UTC),  # iter 3: new slot
            dt.datetime(2024, 5, 2, 11, 1, tzinfo=UTC),
        ]
    )

    def good():
        calls["good"] += 1

    def bad():
        calls["bad"] += 1
        raise RuntimeError("boom")

    run_daemon(
        {"good": good, "bad": bad},
        TIMES,
        clock=lambda: next(clock_ticks),
        sleeper=lambda s: None,
        max_iterations=3,
        on_error=lambda name, exc: errors.append(name),
    )
    # good: iter1 (never ran) + iter3 (new slot); skipped in iter2
    assert calls["good"] == 2
    # bad never succeeds -> due every iteration; loop survives all failures
    assert calls["bad"] == 3
    assert errors == ["bad", "bad", "bad"]


def test_cli_once_is_idempotent(tmp_path, monkeypatch):
    """Two `--mode once --job all` runs: outputs exist after the first; the
    second is a NOOP tick (checkpoint already at max event time) and leaves
    the merged table byte-identical. The fixture data is archival (2024), so
    the cold-start lookback is widened via the reference's env knob."""
    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import main

    wd = str(tmp_path / "work")
    args = ["--mode", "once", "--job", "all",
            "--sf-dir", "/root/testdata/sf0.001", "--work-dir", wd]
    assert main(args) == 0

    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_read

    spark = get_spark("cli-test")
    first = snapshot_read(spark, f"{wd}/call_log").count()
    assert first > 0
    assert snapshot_read(spark, f"{wd}/fact_staff_daily").count() > 0
    assert snapshot_read(spark, f"{wd}/fact_status_pivot").count() > 0

    assert main(args) == 0
    # idempotent: the overlap tail re-merges (mode MERGED, C2 semantics) but
    # the row_hash guard changes nothing — count stays identical
    assert snapshot_read(spark, f"{wd}/call_log").count() == first
    log = snapshot_read(spark, f"{wd}/update_log")
    modes = [r["mode"] for r in log.where(F_table("call_log")).collect()]
    assert modes == ["MERGED", "MERGED"]


def F_table(name):
    import pyspark.sql.functions as F

    return F.col("table_name") == name


def test_cli_versioned_tick_and_restore(tmp_path, monkeypatch):
    """CLI time travel: ticks with --keep-versions keep the older
    manifests of the warehouse tables; --mode versions lists them; --mode
    restore rolls a table back to a snapshot (and --mode restore guards
    its arguments)."""
    import pytest

    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import main

    wd = str(tmp_path / "work")
    base = ["--sf-dir", "/root/testdata/sf0.001", "--work-dir", wd,
            "--keep-versions", "2"]
    # tick 1 bootstraps v1; tick 2 re-merges the overlap tail as v2 and
    # keeps v1 readable
    assert main(["--mode", "once", "--job", "call", *base]) == 0
    assert main(["--mode", "once", "--job", "call", *base]) == 0

    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_read, snapshot_versions

    spark = get_spark("cli-version-test")
    table = f"{wd}/call_log"
    vers = snapshot_versions(spark, table)
    assert len(vers) == 2, "second tick should have kept the first version"
    live = snapshot_read(spark, table).count()
    snap = snapshot_read(spark, table, version=vers[0]).count()
    assert snap == live  # idempotent ticks: same rows, different version

    assert main(["--mode", "versions", "--job", "call", *base]) == 0
    assert (
        main(["--mode", "restore", "--job", "call",
              "--restore-version", str(vers[0]), *base])
        == 0
    )
    assert snapshot_read(spark, table).count() == snap
    # restore is itself a commit: the pre-restore head stays readable
    after = snapshot_versions(spark, table)
    assert after[-1] > vers[-1] and vers[-1] in after

    with pytest.raises(SystemExit):
        main(["--mode", "restore", "--job", "call", *base])  # no version
    with pytest.raises(SystemExit):
        main(["--mode", "restore", "--restore-version", "1", *base])  # job=all


def test_track_progress_yields_all_and_logs_endpoints(caplog):
    """track_progress is transparent (yields every item, in order) and
    always logs the first and final item even when the loop finishes
    inside one rate-limit window."""
    import logging

    from callio_etl_spark.logging_utils import track_progress

    caplog.set_level(logging.INFO, logger="callio_etl_spark")
    items = list(track_progress(["a", "b", "c"], "steps"))
    assert items == ["a", "b", "c"]
    msgs = [r.getMessage() for r in caplog.records]
    assert any(m.startswith("steps: 1/3") for m in msgs)
    assert any(m.startswith("steps: 3/3") for m in msgs)


def test_progress_task_completion_line(caplog):
    import logging

    from callio_etl_spark.logging_utils import progress_task

    caplog.set_level(logging.INFO, logger="callio_etl_spark")
    with progress_task("merge", total=2) as advance:
        advance()
        advance()
    msgs = [r.getMessage() for r in caplog.records]
    assert any(m.startswith("merge: 2/2") for m in msgs)
    assert any(m.startswith("merge: done, 2/2") for m in msgs)


def test_job_stage_sets_and_clears_description():
    """Inside job_stage the Spark jobs carry the step description (what the
    UI/history server shows); on exit the scope is cleared."""
    from callio_etl_spark.logging_utils import job_stage
    from callio_etl_spark.session import get_spark

    spark = get_spark("job-stage-test")
    sc = spark.sparkContext
    with job_stage(spark, "tick:call_log"):
        assert sc.getLocalProperty("spark.job.description") == "tick:call_log"
        assert sc.getLocalProperty("spark.jobGroup.id") == "tick:call_log"
    assert not sc.getLocalProperty("spark.job.description")


def test_cli_curate_pipeline(tmp_path):
    """--mode curate: the composed filter -> exact-dedup -> near-dup ->
    shard pipeline lands both output tables through the atomic commit,
    the accounting is monotone non-increasing per stage, the manifest's
    token totals reconcile with the curated docs, and a second run is
    idempotent (same curated set)."""
    from callio_etl_spark.__main__ import main

    wd = str(tmp_path / "work")
    args = [
        "--mode", "curate",
        "--sf-dir", "/root/testdata/sf0.001",
        "--work-dir", wd,
        "--keep-versions", "2",
    ]
    assert main(args) == 0

    import pyspark.sql.functions as F
    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_read, snapshot_versions

    spark = get_spark("cli-curate-test")
    docs = snapshot_read(spark, f"{wd}/curated_docs")
    shards = snapshot_read(spark, f"{wd}/curated_shards")
    n_input = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    n_curated = docs.count()
    assert 0 < n_curated <= n_input
    # dedup really happened on this duplicate-heavy synthetic corpus
    assert n_curated < n_input
    # manifest reconciles: every curated doc in exactly one shard, token
    # totals identical on both sides
    agg = shards.agg(
        F.sum("n_docs").alias("nd"), F.sum("shard_tokens").alias("st")
    ).collect()[0]
    assert agg["nd"] == n_curated
    assert agg["st"] == docs.agg(F.sum("tokens")).collect()[0][0]
    # curated docs keep their full payload columns plus layout columns
    assert {"doc_id", "text", "shard", "tokens"} <= set(docs.columns)

    curated_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert main(args) == 0  # idempotent second run
    again = {
        r["doc_id"]
        for r in snapshot_read(spark, f"{wd}/curated_docs").select("doc_id").collect()
    }
    assert again == curated_ids
    # the first output stays retained as an older version (keep-versions)
    assert len(snapshot_versions(spark, f"{wd}/curated_docs")) == 2


def test_curate_keeps_alive_representative_when_canonical_filtered(tmp_path):
    """Regression (review finding): when a near-dup cluster's GLOBAL
    canonical is removed by an earlier stage (here: language filter),
    the cluster must keep its smallest SURVIVING member — not lose all
    copies of the content."""
    from callio_etl_spark.__main__ import _curate
    from callio_etl_spark.config import EngineConfig
    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_read

    spark = get_spark("curate-regression", cpus=8)
    body = " ".join(f"w{i} x{i} y{i}" for i in range(8))  # 24 distinct tokens
    rows = [
        # doc 0: near-dup canonical, but Italian -> dropped by the filter
        (0, body, "it", "s0", len(body)),
        # doc 1: English copy of the same content -> must SURVIVE
        (1, body, "en", "s0", len(body)),
        # doc 2: unrelated English doc
        (2, " ".join(f"z{i} q{i} r{i}" for i in range(8)), "en", "s1", 0),
    ]
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    cfg = EngineConfig.from_env()
    cfg.sf_dir = sf
    cfg.work_dir = str(tmp_path / "work")
    os.makedirs(cfg.work_dir, exist_ok=True)
    counts = _curate(spark, cfg)
    docs = {
        r["doc_id"]
        for r in snapshot_read(spark, f"{cfg.work_dir}/curated_docs").collect()
    }
    assert 1 in docs, f"surviving copy lost: {docs} counts={counts}"
    assert 0 not in docs  # the filtered canonical stays out
    assert 2 in docs


def test_curate_grouped_path_matches_row_grain_survivors(tmp_path):
    """The curate CLI's near-dup stage runs the exact-collapse (grouped
    quotient) cluster plan with a PLANNED band geometry; on a
    duplicate-heavy corpus its survivor set must equal the survivor set
    of the raw row-grain rule at the same geometry (band pairs over ALL
    docs -> Jaccard verify -> CC -> min-alive per cluster) — the
    quotient is a plan change, not a semantics change, all the way
    through the CLI entry point."""
    import os

    import pyspark.sql.functions as F

    from callio_etl_spark.__main__ import _curate
    from callio_etl_spark.config import EngineConfig
    from callio_etl_spark.llm_ops.dedup_ops import (
        JACCARD_THRESHOLD,
        _band_pairs,
        _band_table,
        _words,
        connected_components_star,
        content_fp,
        plan_band_geometry_measured,
    )
    from callio_etl_spark.llm_ops.text_analysis import corpus_filter
    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_read

    spark = get_spark("curate-grouped", cpus=8)
    # duplicate-heavy corpus: fixture docs plus verbatim mirrors
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        F.col("doc_id") < 150
    )
    mirrors = base.where(F.col("doc_id") % 2 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    base.unionByName(mirrors).write.parquet(f"{sf}/documents.parquet")

    cfg = EngineConfig.from_env()
    cfg.sf_dir = sf
    cfg.work_dir = str(tmp_path / "work")
    os.makedirs(cfg.work_dir, exist_ok=True)
    _curate(spark, cfg)
    cli_docs = {
        r["doc_id"]
        for r in snapshot_read(spark, f"{cfg.work_dir}/curated_docs").collect()
    }

    # row-grain reference: same filter + exact dedup, then the UNGROUPED
    # near-dup rule (band ALL docs at the same planned geometry)
    d = spark.read.parquet(f"{sf}/documents.parquet")
    kept_ids = corpus_filter(spark, sf).where(F.col("keep") == 1).select("doc_id")
    kept = d.join(kept_ids, "doc_id", "left_semi")
    canon = (
        kept.select("doc_id", content_fp().alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    exact = kept.join(canon.select("doc_id"), "doc_id", "left_semi")
    geometry = plan_band_geometry_measured(exact)
    cand = _band_pairs(_band_table(d.select("doc_id", "text"), *geometry))
    words = d.select("doc_id", _words(F.col("text")).alias("ws")).localCheckpoint()
    wa = words.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa"))
    wb = words.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb"))
    n_inter = F.size(F.array_intersect("wa", "wb")).cast("double")
    n_union = (F.size("wa") + F.size("wb")).cast("double") - n_inter
    edges = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .where((n_inter / n_union) >= JACCARD_THRESHOLD)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    nodes = d.select(F.col("doc_id").alias("node"))
    clusters = connected_components_star(nodes, edges).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    alive = exact.select("doc_id").join(clusters, "doc_id")
    reps = alive.groupBy("cluster_id").agg(F.min("doc_id").alias("doc_id"))
    expected = {r["doc_id"] for r in reps.collect()}
    assert cli_docs == expected
    # and the corpus really was duplicate-heavy: mirrors collapsed
    assert not any(i >= 10_000 for i in cli_docs)


def test_cli_snapshot_table_format(tmp_path, monkeypatch):
    """The snapshot warehouse: ticks land as month-partitioned manifest
    commits (only the fresh months touched) holding one row per fixture
    key, --mode versions prints the op history, and --mode restore rolls
    back via a manifest copy."""
    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import _prepared_events, main

    wd = str(tmp_path / "work")
    base = ["--sf-dir", "/root/testdata/sf0.001", "--keep-versions", "3"]
    assert main(["--mode", "once", "--job", "call", "--work-dir", wd, *base]) == 0

    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import (
        snapshot_history,
        snapshot_read,
        snapshot_versions,
    )

    spark = get_spark("cli-snap-test")
    snap_rows = snapshot_read(spark, f"{wd}/call_log").count()
    fixture_keys = (
        _prepared_events(spark, "/root/testdata/sf0.001")
        .select("tenant", "event_id")
        .distinct()
        .count()
    )
    assert snap_rows == fixture_keys > 0
    hist = snapshot_history(spark, f"{wd}/call_log")
    assert hist[-1]["op"] == "overwrite" and hist[-1]["n_partitions"] >= 1

    # second tick: idempotent (overlap re-merge, row_hash guard) and ONE
    # more manifest version
    assert main(["--mode", "once", "--job", "call", "--work-dir", wd, *base]) == 0
    assert snapshot_read(spark, f"{wd}/call_log").count() == snap_rows
    vers = snapshot_versions(spark, f"{wd}/call_log")
    assert len(vers) == 2

    # versions mode prints; restore rolls back to v1 (same content here)
    assert main(["--mode", "versions", "--job", "call", "--work-dir", wd, *base]) == 0
    assert main(["--mode", "restore", "--job", "call", "--work-dir", wd,
                 "--restore-version", "1", *base]) == 0
    assert snapshot_read(spark, f"{wd}/call_log").count() == snap_rows
    assert snapshot_history(spark, f"{wd}/call_log")[-1]["op"] == "restore"

    # tag ops: name the head, read it back by tag, drop it
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_publish,
        snapshot_staged,
        snapshot_tags,
    )

    assert main(["--mode", "tag", "--job", "call", "--work-dir", wd,
                 "--tag-name", "train-v1", *base]) == 0
    (tv,) = snapshot_tags(spark, f"{wd}/call_log").values()
    assert snapshot_read(spark, f"{wd}/call_log", tag="train-v1").count() == snap_rows
    assert tv == snapshot_versions(spark, f"{wd}/call_log")[-1]
    assert main(["--mode", "drop-tag", "--job", "call", "--work-dir", wd,
                 "--tag-name", "train-v1", *base]) == 0
    assert snapshot_tags(spark, f"{wd}/call_log") == {}

    # WAP cycle through the CLI: stage via the library, publish via CLI
    import pyspark.sql.functions as F

    table = f"{wd}/call_log"
    m = __import__("callio_etl_spark.snapshots", fromlist=["snapshot_manifest"])
    pcol = m.snapshot_manifest(spark, table)["partition_col"]
    staged_df = snapshot_read(spark, table).limit(200)
    sv = snapshot_partition_overwrite(
        spark, staged_df, table, pcol, audit=True, keep_snapshots=4
    )
    assert snapshot_staged(spark, table) == [sv]
    assert main(["--mode", "publish", "--job", "call", "--work-dir", wd,
                 "--snapshot-version", str(sv), *base]) == 0
    assert snapshot_staged(spark, table) == []
    assert snapshot_history(spark, table)[-1]["op"] == "publish"
    # discard path: stage again, discard via CLI, live state untouched
    live_n = snapshot_read(spark, table).count()
    sv2 = snapshot_partition_overwrite(
        spark, staged_df.withColumn("row_hash", F.lit("x")), table, pcol,
        audit=True, keep_snapshots=4,
    )
    assert main(["--mode", "discard-staged", "--job", "call", "--work-dir", wd,
                 "--snapshot-version", str(sv2), *base]) == 0
    assert snapshot_staged(spark, table) == []
    assert snapshot_read(spark, table).count() == live_n


def test_tick_snapshot_cross_month_update_retires_old_row(spark, tmp_path):
    """An update whose event time crosses a month boundary must rewrite
    BOTH months: the one the new row lands in and the one holding the
    superseded copy — otherwise the old row is carried over by manifest
    reference and the key is duplicated."""
    import pyspark.sql.functions as F

    from callio_etl_spark import __main__ as cli
    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.config import EngineConfig
    from callio_etl_spark.functions import row_hash
    from callio_etl_spark.pipeline import IncrementalTable
    from callio_etl_spark.snapshots import snapshot_read

    jan = 1705276800000  # 2024-01-15
    jan_old = 1704067200000  # 2024-01-01 (below tick-2 cutoff)
    feb = 1707523200000  # 2024-02-10

    ticks = [
        [("PK", 1, jan, "v1"), ("PK", 2, jan_old, "v1")],
        [("PK", 1, feb, "v2")],  # key 1 moves Jan -> Feb
    ]
    state = {"i": 0}

    def prepare(spark_, sf_dir_):
        rows = ticks[state["i"]]
        df = spark_.createDataFrame(
            rows, "tenant string, k long, createTime long, payload string"
        )
        return df.withColumn("row_hash", row_hash(df))

    table = IncrementalTable("xmon", ["tenant", "k"], "createTime")
    cfg = EngineConfig()
    cfg.work_dir = str(tmp_path)
    cfg.limit_records = None
    store = CheckpointStore(
        spark, str(tmp_path / "update_log"), lookback_days=100000
    )
    orig = cli.JOB_TABLES.get("xmon")
    cli.JOB_TABLES["xmon"] = (table, prepare)
    try:
        cli._tick(spark, cfg, store, "xmon")
        state["i"] = 1
        cli._tick(spark, cfg, store, "xmon")
    finally:
        if orig is None:
            cli.JOB_TABLES.pop("xmon", None)
        else:
            cli.JOB_TABLES["xmon"] = orig

    got = snapshot_read(spark, str(tmp_path / "xmon"))
    rows = {(r["k"], r["createTime"]) for r in got.select("k", "createTime").collect()}
    # key 1 exactly once, at its Feb time; key 2 untouched in Jan
    assert rows == {(1, feb), (2, jan_old)}
    assert got.where(F.col("k") == 1).count() == 1


class _InjectedJob:
    """Runs ``__main__._tick`` for a test table: ``rows(i)`` is what the
    job's source serves on tick ``i`` (tenant, k, createTime, payload)."""

    def __init__(self, spark, tmp_path, name, rows):
        from callio_etl_spark import __main__ as cli
        from callio_etl_spark.checkpoints import CheckpointStore
        from callio_etl_spark.config import EngineConfig
        from callio_etl_spark.functions import row_hash
        from callio_etl_spark.pipeline import IncrementalTable

        self.spark, self.name, self.cli, self.i = spark, name, cli, 0
        self.path = str(tmp_path / name)
        self.cfg = EngineConfig()
        self.cfg.work_dir = str(tmp_path)
        self.cfg.limit_records = None
        self.store = CheckpointStore(
            spark, str(tmp_path / "update_log"), lookback_days=100000
        )

        def prepare(spark_, sf_dir_):
            df = spark_.createDataFrame(
                rows(self.i),
                "tenant string, k long, createTime long, payload string",
            )
            return df.withColumn("row_hash", row_hash(df))

        self.job = (IncrementalTable(name, ["tenant", "k"], "createTime"), prepare)

    def tick(self) -> None:
        self.cli.JOB_TABLES[self.name] = self.job
        try:
            self.cli._tick(self.spark, self.cfg, self.store, self.name)
        finally:
            self.cli.JOB_TABLES.pop(self.name, None)
        self.i += 1


JAN, FEB = 1705276800000, 1707523200000  # 2024-01-15, 2024-02-10


def test_cli_tick_key_alone_in_a_month_moves_out(spark, tmp_path):
    """A key that alone holds January moves to February: it appears once,
    and January's leaf is gone from the live manifest (the window rewrite
    drops the partition the merge empties)."""
    from callio_etl_spark.snapshots import snapshot_manifest, snapshot_read

    ticks = [[("PK", 1, JAN, "v1")], [("PK", 1, FEB, "v2")]]
    job = _InjectedJob(spark, tmp_path, "xalone", lambda i: ticks[i])
    job.tick()
    job.tick()
    got = [tuple(r) for r in snapshot_read(spark, job.path).select("k", "createTime").collect()]
    assert got == [(1, FEB)]
    assert set(snapshot_manifest(spark, job.path)["partitions"]) == {"ym=2024-02"}


def test_cli_tick_blocks_while_the_service_lock_is_held(spark, tmp_path):
    """The CLI tick is the single-writer tick: while another holder owns
    the table's service lock it waits, publishing nothing, and runs once
    the lock is released."""
    import threading
    import time as _time

    from callio_etl_spark.io import acquire_service_lock, release_service_lock
    from callio_etl_spark.snapshots import snapshot_read, snapshot_versions

    ticks = [[("PK", 1, JAN, "v1")], [("PK", 1, FEB, "v2")]]
    job = _InjectedJob(spark, tmp_path, "xlock", lambda i: ticks[i])
    job.tick()  # creates the table
    acquire_service_lock(spark, job.path)
    state = {"done_at": None, "err": None}

    def run():
        try:
            job.tick()
            state["done_at"] = _time.monotonic()
        except Exception as exc:  # surfaced by the join assert below
            state["err"] = exc

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=10)  # an unblocked one-row tick ends well inside this
    assert t.is_alive() and state["err"] is None, state["err"]
    assert snapshot_versions(spark, job.path) == [1], (
        "CLI tick published while another holder owned the service lock"
    )
    released_at = _time.monotonic()
    release_service_lock(spark, job.path)
    t.join(timeout=180)
    assert not t.is_alive() and state["err"] is None, state["err"]
    assert state["done_at"] > released_at
    got = [tuple(r) for r in snapshot_read(spark, job.path).select("k", "payload").collect()]
    assert got == [(1, "v2")]


def test_cli_noop_tick_runs_update_log_retention(spark, tmp_path, monkeypatch):
    """A CLI tick with nothing past the checkpoint audits NOOP and still
    runs ``compact_if_needed``: an idle daemon must not grow the
    update_log without bound."""
    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.snapshots import snapshot_read

    calls = []
    real = CheckpointStore.compact_if_needed

    def spy(self, *a, **k):
        calls.append(self.log_path)
        return real(self, *a, **k)

    job = _InjectedJob(spark, tmp_path, "xnoop", lambda i: [] if i else [("PK", 1, JAN, "v1")])
    job.tick()
    monkeypatch.setattr(CheckpointStore, "compact_if_needed", spy)
    job.tick()
    assert calls == [job.store.log_path], "NOOP tick skipped update_log retention"
    modes = [r["mode"] for r in snapshot_read(spark, job.store.log_path).collect()]
    assert sorted(modes) == ["MERGED", "NOOP"]


def test_cli_tick_refuses_a_plain_parquet_table(tmp_path, monkeypatch):
    """A work dir whose call_log is a plain parquet table (the layout of
    the removed rename-swap tick) must make the tick raise before it
    fetches anything: the warmed checkpoint is already past those rows,
    so treating the table as empty would publish a snapshot table
    holding only the overlap slice. The error names the path and the
    migration; the dir and the update_log stay as they were."""
    import datetime as dt
    import os

    import pytest

    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import main
    from callio_etl_spark.checkpoints import UPDATE_LOG_SCHEMA
    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_overwrite

    wd = str(tmp_path / "work")
    spark = get_spark("cli-test")
    spark.createDataFrame(
        [("PK", 1, 1704067200000)], "tenant string, event_id long, createTime long"
    ).write.parquet(f"{wd}/call_log")
    snapshot_overwrite(
        spark,
        spark.createDataFrame(
            [("call_log", "PK", dt.datetime(2024, 1, 1), 1, 1704067200000, "MERGED")],
            UPDATE_LOG_SCHEMA,
        ),
        f"{wd}/update_log",
    )

    def listing():
        return {
            (os.path.relpath(os.path.join(d, f), wd), st.st_size, st.st_mtime_ns)
            for d, _, files in os.walk(wd)
            for f in files
            for st in [os.stat(os.path.join(d, f))]
        }

    before = listing()
    with pytest.raises(RuntimeError, match="plain parquet table") as exc:
        main(["--mode", "once", "--job", "call",
              "--sf-dir", "/root/testdata/sf0.001", "--work-dir", wd])
    msg = str(exc.value)
    assert f"{wd}/call_log" in msg
    assert "spark.read.parquet" in msg and "snapshot_partition_overwrite" in msg
    assert listing() == before

WHOLE_OUTPUTS = (
    "fact_staff_daily",
    "fact_status_pivot",
    "staff",
    "group",
    "curated_docs",
    "curated_shards",
)


def test_cli_whole_table_outputs_are_snapshot_tables(tmp_path, monkeypatch):
    """Every whole-table output — the two reporting facts, the staff and
    group dims, and both curate outputs — is a snapshot table: two runs
    with --keep-versions 2 leave two versions each, a restore of staff
    to v1 reads back the first run's rows, and no read shows the
    reserved leaf column."""
    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import main
    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import (
        WHOLE_TABLE_COL,
        snapshot_read,
        snapshot_restore,
        snapshot_versions,
    )
    from tests.conftest import SF_DIR

    wd = str(tmp_path / "work")
    base = ["--sf-dir", SF_DIR, "--work-dir", wd,
            "--keep-versions", "2"]
    spark = get_spark("cli-test")
    assert main(["--mode", "once", *base]) == 0
    staff_v1 = {tuple(r) for r in snapshot_read(spark, f"{wd}/staff").collect()}
    assert staff_v1
    assert main(["--mode", "once", *base]) == 0
    assert main(["--mode", "curate", *base]) == 0
    assert main(["--mode", "curate", *base]) == 0

    for name in WHOLE_OUTPUTS:
        path = f"{wd}/{name}"
        assert snapshot_versions(spark, path) == [1, 2], name
        assert WHOLE_TABLE_COL not in snapshot_read(spark, path).columns

    snapshot_restore(spark, f"{wd}/staff", 1, keep_snapshots=3)
    restored = snapshot_read(spark, f"{wd}/staff")
    assert WHOLE_TABLE_COL not in restored.columns
    assert {tuple(r) for r in restored.collect()} == staff_v1


def test_cli_refuses_a_plain_whole_table_output(tmp_path, monkeypatch):
    """A work dir holding a plain parquet staff dim (the layout of the
    removed rename-swap sink) makes the staff_group job raise before it
    stages or writes anything: a snapshot commit beside the plain files
    would mix two formats in one directory. The error names the path
    and the migration; the work dir stays as it was."""
    import os

    import pytest

    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import main
    from callio_etl_spark.session import get_spark
    from tests.conftest import SF_DIR

    wd = str(tmp_path / "work")
    spark = get_spark("cli-test")
    spark.createDataFrame(
        [("PK", "s1", "1", "1", "h")],
        "tenant string, name string, _id string, group_id string,"
        " row_hash string",
    ).write.parquet(f"{wd}/staff")

    def listing():
        return {
            (os.path.relpath(os.path.join(d, f), wd), st.st_size, st.st_mtime_ns)
            for d, _, files in os.walk(wd)
            for f in files
            for st in [os.stat(os.path.join(d, f))]
        }

    before = listing()
    with pytest.raises(RuntimeError, match="plain parquet table") as exc:
        main(["--mode", "once", "--job", "staff_group",
              "--sf-dir", SF_DIR, "--work-dir", wd])
    msg = str(exc.value)
    assert f"{wd}/staff" in msg
    assert "spark.read.parquet" in msg and "snapshot_overwrite" in msg
    assert listing() == before


def test_cli_evolution_verbs(tmp_path, monkeypatch):
    """--mode evolve-spec / rename-column / drop-column on the snapshot
    warehouse: metadata-only commits through the CLI, readable history,
    and the guard rail (single --job)."""
    import pyspark.sql.functions as F

    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import main

    wd = str(tmp_path / "work")
    base = ["--sf-dir", "/root/testdata/sf0.001", "--keep-versions", "3",
            "--work-dir", wd, "--job", "call"]
    assert main(["--mode", "once", *base]) == 0

    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_manifest, snapshot_read

    spark = get_spark("cli-evo-test")
    table = f"{wd}/call_log"
    before = snapshot_read(spark, table)
    n = before.count()
    assert "value" in before.columns

    assert main(["--mode", "rename-column", "--column", "value",
                 "--new-name", "payload", *base]) == 0
    r = snapshot_read(spark, table)
    assert "payload" in r.columns and "value" not in r.columns
    assert r.where(F.col("payload").isNull()).count() == \
        before.where(F.col("value").isNull()).count()

    assert main(["--mode", "drop-column", "--column", "payload", *base]) == 0
    r2 = snapshot_read(spark, table)
    assert "payload" not in r2.columns and r2.count() == n

    assert main(["--mode", "evolve-spec", "--partition-col", "event_type",
                 *base]) == 0
    m = snapshot_manifest(spark, table)
    assert m["partition_col"] == "event_type"
    assert m["spec_history"] == ["ym", "event_type"]
    # the warehouse still reads whole (old ym-era dirs under their spec)
    assert snapshot_read(spark, table).count() == n


def test_daemon_per_job_slot_lists():
    """r13: a named job can ride its OWN slot list (the reference's
    staff/group daily slot, config.py:170-176) — the tick job fires on
    every run-time slot, the daily job only when ITS slot passes, and
    the idle sleep targets the earliest next slot across all lists."""
    calls = {"tick": 0, "daily": 0}
    daily_times = parse_run_times("04:00")
    clock_ticks = iter(
        [
            dt.datetime(2024, 5, 2, 2, 31, tzinfo=UTC),  # iter 1: 02:30 slot
            dt.datetime(2024, 5, 2, 2, 31, tzinfo=UTC),
            dt.datetime(2024, 5, 2, 4, 1, tzinfo=UTC),   # iter 2: 04:00 slot
            dt.datetime(2024, 5, 2, 4, 1, tzinfo=UTC),
            dt.datetime(2024, 5, 2, 11, 1, tzinfo=UTC),  # iter 3: 11:00 slot
            dt.datetime(2024, 5, 2, 11, 1, tzinfo=UTC),
        ]
    )
    run_daemon(
        {
            "tick": lambda: calls.__setitem__("tick", calls["tick"] + 1),
            "daily": lambda: calls.__setitem__("daily", calls["daily"] + 1),
        },
        TIMES,
        job_times={"daily": daily_times},
        clock=lambda: next(clock_ticks),
        sleeper=lambda s: None,
        max_iterations=3,
    )
    assert calls["tick"] == 3  # 02:30, 04:00, 11:00
    # daily: fires at iter 1 (never ran -> due), then again only once its
    # own 04:00 slot passes — the 11:00 tick slot does NOT re-fire it
    assert calls["daily"] == 2


def test_cli_staff_group_snapshot_job(tmp_path, monkeypatch):
    """r13: the reference's daily staff+group snapshot job as a CLI job —
    staff stages (STAGED) then merges into the dim (MERGED), group
    replaces whole (TRUNCATE); a second run is content-idempotent and
    re-audits the same vocabulary; staging is consumed by the merge."""
    import os

    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import main
    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_read

    wd = str(tmp_path / "work")
    args = ["--mode", "once", "--job", "staff_group",
            "--sf-dir", "/root/testdata/sf0.001", "--work-dir", wd]
    assert main(args) == 0

    spark = get_spark("cli-test")
    staff = snapshot_read(spark, f"{wd}/staff")
    group = snapshot_read(spark, f"{wd}/group")
    n_staff, n_group = staff.count(), group.count()
    assert n_staff > 0 and n_group == 25  # nation is 25 rows at every sf
    assert not os.path.exists(f"{wd}/stg_staff"), "staging not consumed"

    assert main(args) == 0
    assert snapshot_read(spark, f"{wd}/staff").count() == n_staff
    assert snapshot_read(spark, f"{wd}/group").count() == n_group
    log = snapshot_read(spark, f"{wd}/update_log")
    by_mode = {
        (r["table_name"], r["mode"])
        for r in log.collect()
    }
    assert ("staff", "STAGED") in by_mode
    assert ("staff", "MERGED") in by_mode
    assert ("group", "TRUNCATE") in by_mode


def test_bench_baseline_parse_covers_every_registered_query():
    """r13: the bench's self-disposing signal line keys off BASELINE.md's
    per-query table — a registered query missing from the parse (or a
    malformed row) silently loses its regression watch, so the parse
    must cover the whole registry (minus the three rows-only queries,
    which the baseline table still records)."""
    import sys

    sys.path.insert(0, "/root/repo")
    from bench import _BASELINE_CAL_S, _baseline_seconds
    from callio_etl_spark.registry import REGISTRY, _load_all

    _load_all()
    base = _baseline_seconds()
    missing = [n for n in REGISTRY if n not in base]
    assert not missing, (
        f"registered queries without a BASELINE.md row: {missing} — "
        "record one at registration time (the standing cadence guard)"
    )
    assert all(v > 0 for v in base.values())
    assert 0.5 < _BASELINE_CAL_S < 2.0


def test_driver_priority_window_is_well_formed():
    """The driver hashes only the first 50 queries() entries, so the
    rotation list must stay duplicate-free, fully registered, at least
    window-sized, and must never stage the three rows-only queries
    inside the hashed window (they have no cross-engine oracle; their
    driver-checkable twins hold the coverage)."""
    from callio_etl_spark.registry import DRIVER_PRIORITY, REGISTRY, _load_all

    _load_all()
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY)), "duplicates"
    assert len(DRIVER_PRIORITY) >= 50, "window underfilled"
    unknown = [n for n in DRIVER_PRIORITY if n not in REGISTRY]
    assert not unknown, f"unregistered names staged: {unknown}"
    rows_only = {"ann_topk_gemm", "approx_sketch_stats", "curriculum_bins_approx"}
    staged = rows_only & set(DRIVER_PRIORITY[:50])
    assert not staged, f"rows-only queries inside the hashed window: {staged}"
    # every windowed query must carry an oracle (the driver's hard gate)
    missing_oracle = [
        n for n in DRIVER_PRIORITY[:50] if not REGISTRY[n].oracle
    ]
    assert not missing_oracle, missing_oracle


def test_staff_group_clears_stale_staging_before_staging(tmp_path, monkeypatch):
    """ADVICE r13 (r14 fix): a crash between a prior run's STAGED and its
    MERGE leaves rows in stg_staff; the staging dir is per-run scratch,
    so the next run must clear it before staging — otherwise stale keys
    absent from the new snapshot resurrect into the dim and the MERGED
    audit count understates what was merged."""
    import pyspark.sql.functions as F

    monkeypatch.setenv("DAYS_TO_FETCH_IF_EMPTY", "100000")
    from callio_etl_spark.__main__ import main
    from callio_etl_spark.session import get_spark
    from callio_etl_spark.snapshots import snapshot_read

    wd = str(tmp_path / "work")
    args = ["--mode", "once", "--job", "staff_group",
            "--sf-dir", "/root/testdata/sf0.001", "--work-dir", wd]
    assert main(args) == 0

    spark = get_spark("cli-test")
    staff = snapshot_read(spark, f"{wd}/staff")
    n_staff = staff.count()

    # simulate the crashed prior run: a staged batch that never merged,
    # carrying a key the fresh snapshot does NOT contain
    ghost = spark.createDataFrame(
        [("PK", "GHOST-STAFF", "999999", "1", "deadbeef")],
        "tenant string, name string, _id string, group_id string,"
        " row_hash string",
    )
    ghost.write.mode("append").parquet(f"{wd}/stg_staff")

    assert main(args) == 0
    staff2 = snapshot_read(spark, f"{wd}/staff")
    ghosts = staff2.where(F.col("name") == "GHOST-STAFF").count()
    assert ghosts == 0, "stale staged rows resurrected into the dim"
    assert staff2.count() == n_staff


def test_configure_logging_writes_to_the_current_stderr(monkeypatch, capsys):
    """The stdlib handler resolves ``sys.stderr`` when it emits: logging
    configured under a stream that is later swapped out and closed (a
    test runner's capture) must not print a logging error."""
    import io
    import logging
    import sys

    from callio_etl_spark.logging_utils import configure_logging

    root = logging.getLogger()
    saved = root.handlers[:], root.level
    tmp = io.StringIO()
    try:
        with monkeypatch.context() as m:
            m.setattr(sys, "stderr", tmp)
            configure_logging("INFO")
        tmp.close()
        logging.getLogger("callio_etl_spark").info("after the swap")
    finally:
        root.handlers[:] = saved[0]
        root.setLevel(saved[1])
    err = capsys.readouterr().err
    assert "Logging error" not in err
    assert "after the swap" in err
