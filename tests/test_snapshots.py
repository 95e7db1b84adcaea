"""Snapshot-isolated partitioned tables (callio_etl_spark/snapshots.py),
the engine's one format for partitioned tables.

The contract under test is the one a per-partition rename loop cannot give
on a plain filesystem: a reader racing a partition overwrite observes only
BEFORE-or-AFTER states — never a mix of old and new partitions — because a
commit is a single manifest publish over immutable data dirs (the
Iceberg/Delta idea; reference MERGE gets this from BigQuery's atomic jobs,
runner.py:163-199).
"""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
import pytest

from callio_etl_spark import snapshots as snap


def _df(spark, ids, mult=1):
    return spark.createDataFrame(
        [(i * mult, str(i % 4)) for i in ids], "id long, d string"
    )


def test_snapshot_overwrite_carryover_and_timetravel(spark, tmp_path):
    """Partitions absent from the commit carry over; pinned versions read
    the historical state until vacuumed; versions are contiguous."""
    p = str(tmp_path / "t")
    v1 = snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20)), p, "d", keep_snapshots=3
    )
    upd = _df(spark, range(20)).where(F.col("d").isin("1", "2")).withColumn(
        "id", F.col("id") * 100
    )
    v2 = snap.snapshot_partition_overwrite(spark, upd, p, "d", keep_snapshots=3)
    assert (v1, v2) == (1, 2)
    live = snap.snapshot_read(spark, p)
    # d=0: 0+4+8+12+16=40, d=3: 3+7+11+15+19=55 carried; d=1/2 scaled x100
    assert live.agg(F.sum("id")).first()[0] == 40 + 55 + 100 * (45 + 50)
    assert snap.snapshot_read(spark, p, version=1).agg(F.sum("id")).first()[0] == 190
    assert snap.snapshot_versions(spark, p) == [1, 2]


def test_reader_racing_partition_overwrite_sees_whole_snapshots(spark, tmp_path):
    """THE isolation contract: a reader loop racing a stream of partition
    overwrites must observe, at every resolve, exactly one committed
    snapshot's aggregate — a per-partition swap protocol would let it sum
    a mix (old d=1 with new d=2), which is not in the expected set."""
    p = str(tmp_path / "race")
    base = list(range(20))
    snap.snapshot_partition_overwrite(
        spark, _df(spark, base), p, "d", keep_snapshots=50
    )
    # version k multiplies partitions d=1 AND d=2 by 10**k; a torn read
    # mixing generations of d=1 and d=2 produces a sum outside this set
    d0, d1, d2, d3 = 40, 45, 50, 55
    expected = {d0 + d3 + (10**k) * (d1 + d2) for k in range(0, 5)}

    stop = threading.Event()
    seen: list[int] = []
    errors: list[Exception] = []

    def reader():
        try:
            while not stop.is_set():
                got = snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0]
                seen.append(int(got))
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for k in range(1, 5):
            upd = (
                _df(spark, base)
                .where(F.col("d").isin("1", "2"))
                .withColumn("id", F.col("id") * (10**k))
            )
            snap.snapshot_partition_overwrite(spark, upd, p, "d", keep_snapshots=50)
    finally:
        stop.set()
        t.join()
    assert not errors, errors
    assert seen, "reader never completed a resolve"
    torn = [s for s in seen if s not in expected]
    assert not torn, f"torn snapshot sums observed: {torn}"
    # the reader must have seen at least the final state by the end
    assert snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0] == max(expected)


def test_crash_before_publish_leaves_table_unchanged(spark, tmp_path, monkeypatch):
    """A writer dying after its data-dir renames but BEFORE the manifest
    publish has committed nothing: readers keep the old state, later
    commits never resurrect the strand, and the explicit
    snapshot_remove_orphans maintenance sweep (per-commit vacuums are
    deliberately scoped to dropped manifests' leaves — Iceberg's
    remove_orphan_files split) deletes the orphan data dirs."""
    p = str(tmp_path / "crash")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20)), p, "d", keep_snapshots=2
    )
    before = snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0]

    def boom(*a, **k):
        raise RuntimeError("injected crash at publish")

    monkeypatch.setattr(snap, "_write_manifest", boom)
    upd = _df(spark, range(20), mult=1000).where(F.col("d") == "1")
    try:
        snap.snapshot_partition_overwrite(spark, upd, p, "d")
        raise AssertionError("injected crash did not propagate")
    except RuntimeError:
        pass
    monkeypatch.undo()

    assert snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0] == before
    assert snap.snapshot_versions(spark, p) == [1]
    # orphan __s000002_*__ dir exists now
    orphans = [n for n in os.listdir(f"{p}/d=1") if n.startswith("__s000002")]
    assert orphans, "expected an orphan staged dir from the crashed commit"
    # an unrelated commit neither resurrects nor (scoped vacuum) pays an
    # O(table) walk to sweep it...
    snap.snapshot_partition_overwrite(
        spark,
        _df(spark, range(20)).where(F.col("d") == "3"),
        p,
        "d",
        keep_snapshots=2,
    )
    assert snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0] == before
    # ...the explicit maintenance action does
    snap.snapshot_remove_orphans(spark, p, keep_snapshots=2)
    assert not [n for n in os.listdir(f"{p}/d=1") if n.startswith("__s000002")]
    # lock was released by the crashed writer's finally
    assert snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0] == before


def test_metadata_delete_is_deferred_physical(spark, tmp_path):
    """snapshot_delete_partitions publishes without touching data files;
    the bytes disappear only when retention drops the last manifest that
    references them."""
    p = str(tmp_path / "del")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20)), p, "d", keep_snapshots=2
    )
    v2 = snap.snapshot_delete_partitions(spark, p, ["3"], keep_snapshots=2)
    assert v2 == 2
    live = snap.snapshot_read(spark, p)
    # the manifest-recorded schema keeps d at its DECLARED string type
    # (no fallback to path-string partition inference, which re-typed it
    # int before schemas were recorded)
    assert sorted(r["d"] for r in live.select("d").distinct().collect()) == [
        "0",
        "1",
        "2",
    ]
    assert os.path.isdir(f"{p}/d=3"), "delete must be metadata-only at commit"
    # v1 still resolves the deleted partition (time travel)
    assert snap.snapshot_read(spark, p, version=1).count() == 20
    # one more commit: retention (keep 2) drops v1, and with it d=3's bytes
    snap.snapshot_partition_overwrite(
        spark,
        _df(spark, range(20)).where(F.col("d") == "0"),
        p,
        "d",
        keep_snapshots=2,
    )
    assert not os.path.isdir(f"{p}/d=3")
    assert snap.snapshot_versions(spark, p) == [2, 3]


def test_disjoint_concurrent_writers_compose(spark, tmp_path):
    """Two writers overwriting DISJOINT partitions concurrently: commits
    serialize on the table lock and each extends the latest state, so the
    final snapshot carries both updates (read-modify-write composes)."""
    p = str(tmp_path / "two")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20)), p, "d", keep_snapshots=10
    )
    errors: list[Exception] = []

    def writer(part: str, mult: int):
        try:
            upd = (
                _df(spark, range(20))
                .where(F.col("d") == part)
                .withColumn("id", F.col("id") * mult)
            )
            snap.snapshot_partition_overwrite(spark, upd, p, "d", keep_snapshots=10)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    ta = threading.Thread(target=writer, args=("1", 100))
    tb = threading.Thread(target=writer, args=("2", 1000))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors
    assert snap.snapshot_versions(spark, p) == [1, 2, 3]
    got = snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0]
    assert got == 40 + 55 + 100 * 45 + 1000 * 50


def test_snapshot_read_prunes_partitions(spark, tmp_path):
    """The manifest-resolved read keeps Spark's partition-column inference:
    a filter on the partition column must appear in PartitionFilters (the
    scan skips non-matching dirs), same as a plain partitioned read."""
    p = str(tmp_path / "prune")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20)), p, "d", keep_snapshots=2
    )
    q = snap.snapshot_read(spark, p).where(F.col("d") == "1")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "(d" in plan.split("PartitionFilters")[1][:80]
    assert q.count() == 5


def test_mismatched_partition_col_rejected(spark, tmp_path):
    p = str(tmp_path / "mis")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(8)), p, "d", keep_snapshots=2
    )
    try:
        snap.snapshot_partition_overwrite(
            spark,
            _df(spark, range(8)).withColumnRenamed("d", "e"),
            p,
            "e",
            keep_snapshots=2,
        )
        raise AssertionError("partition-column mismatch must be rejected")
    except ValueError:
        pass


def test_snapshot_compact_partition(spark, tmp_path):
    """Compaction rewrites ONE partition's files into one, changes no
    rows, leaves sibling partitions' data dirs untouched (same tokens in
    the manifest), and commits as a pinnable version."""
    p = str(tmp_path / "cp")
    df = _df(spark, range(40)).repartition(6)  # ~6 files per partition
    # the default size-gated rebalance could coalesce each leaf to one
    # file on write — but this test needs the fragmentation so compaction
    # has something to rewrite, so the write opts out of it
    snap.snapshot_partition_overwrite(
        spark, df, p, "d", keep_snapshots=3, distribution="none"
    )
    m1 = snap.snapshot_manifest(spark, p)

    def files_in(leaf_tok):
        d = f"{p}/{leaf_tok[0]}/{leaf_tok[1]}"
        return [n for n in os.listdir(d) if n.endswith(".parquet")]

    before = files_in(("d=1", m1["partitions"]["d=1"]))
    assert len(before) > 1
    rows_before = sorted(
        r["id"] for r in snap.snapshot_read(spark, p).where("d = 1").collect()
    )
    v2 = snap.snapshot_compact_partition(spark, p, "1", target_files=1)
    assert v2 == 2
    m2 = snap.snapshot_manifest(spark, p)
    # sibling partitions carry over by reference; d=1 got a new dir
    for leaf in ("d=0", "d=2", "d=3"):
        assert m2["partitions"][leaf] == m1["partitions"][leaf]
    assert m2["partitions"]["d=1"] != m1["partitions"]["d=1"]
    after = files_in(("d=1", m2["partitions"]["d=1"]))
    assert len(after) == 1
    rows_after = sorted(
        r["id"] for r in snap.snapshot_read(spark, p).where("d = 1").collect()
    )
    assert rows_after == rows_before
    # pre-compaction version still pinnable
    assert snap.snapshot_read(spark, p, version=1).count() == 40


def test_snapshot_changes_cdc_and_metadata_pruning(spark, tmp_path):
    """snapshot_changes derives a change feed between two versions and —
    the scale property — reads ONLY partitions whose manifest token
    changed: untouched partitions are carried by reference and cannot
    contain changes."""
    p = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [(i, str(i % 4), i * 10) for i in range(20)], "id long, d string, v long"
    )
    snap.snapshot_partition_overwrite(spark, base, p, "d", keep_snapshots=5)
    # v2 rewrites d=1 only: id 1 deleted, id 5 updated, id 101 inserted
    d1_new = spark.createDataFrame(
        [(5, "1", 999), (9, "1", 90), (13, "1", 130), (17, "1", 170), (101, "1", 1010)],
        "id long, d string, v long",
    )
    snap.snapshot_partition_overwrite(spark, d1_new, p, "d", keep_snapshots=5)

    ch = snap.snapshot_changes(spark, p, 1, 2, keys=["id"])
    rows = {(r["id"], r["_change"]): r["v"] for r in ch.collect()}
    assert rows == {
        (1, "delete"): 10,  # deletes carry OLD values
        (5, "update"): 999,  # updates carry NEW values
        (101, "insert"): 1010,
    }
    # metadata pruning: only d=1 data dirs were read
    files = ch.inputFiles()
    assert files and all("/d=1/" in f for f in files)

    # a metadata partition-delete surfaces as deletes for every row
    snap.snapshot_delete_partitions(spark, p, ["0"], keep_snapshots=5)
    ch2 = snap.snapshot_changes(spark, p, 2, 3, keys=["id"])
    got = {(r["id"], r["_change"]) for r in ch2.collect()}
    assert got == {(0, "delete"), (4, "delete"), (8, "delete"), (12, "delete"), (16, "delete")}


def test_manifest_stats_prune_on_second_dimension(spark, tmp_path):
    """Commits passing stats_cols record per-partition [min, max] in the
    manifest; snapshot_read(between=...) skips partitions whose range
    cannot intersect — metadata-only pruning on a NON-partition column.
    Rewrites without stats drop the entry (conservatively unprunable),
    carried-over partitions keep theirs, and pruning is I/O-only (the
    kept partitions still need the row filter)."""
    p = str(tmp_path / "stats")
    # v per partition: d=0 -> [0,40], d=1 -> [100,140], d=2 -> [200,240], d=3 -> [300,340]
    base = spark.createDataFrame(
        [(i, str(i % 4), (i % 4) * 100 + (i // 4) * 10) for i in range(20)],
        "id long, d string, v long",
    )
    snap.snapshot_partition_overwrite(
        spark, base, p, "d", keep_snapshots=3, stats_cols=["v"]
    )
    m = snap.snapshot_manifest(spark, p)
    assert m["stats"]["d=1"]["v"] == [100, 140]

    r = snap.snapshot_read(spark, p, between=("v", 110, 205))
    files = r.inputFiles()
    assert files
    assert {f.split("/d=")[1][0] for f in files} == {"1", "2"}
    # pruning is I/O-only: apply the row filter for exact semantics
    assert sorted(
        x["v"] for x in r.where(F.col("v").between(110, 205)).collect()
    ) == [110, 120, 130, 140, 200]

    # no overlap at all -> empty frame with the real schema
    empty = snap.snapshot_read(spark, p, between=("v", 1000, 2000))
    assert empty.count() == 0 and set(empty.columns) == {"id", "d", "v"}

    # rewrite d=1 WITHOUT stats: its entry must drop; siblings keep theirs
    upd = spark.createDataFrame([(101, "1", 99999)], "id long, d string, v long")
    snap.snapshot_partition_overwrite(spark, upd, p, "d", keep_snapshots=3)
    m2 = snap.snapshot_manifest(spark, p)
    assert "d=1" not in m2["stats"] and m2["stats"]["d=2"]["v"] == [200, 240]
    # stat-less partition is conservatively KEPT by any between read
    r2 = snap.snapshot_read(spark, p, between=("v", 0, 50))
    assert {f.split("/d=")[1][0] for f in r2.inputFiles()} == {"0", "1"}


def test_snapshot_model_based_random_sequences(spark, tmp_path):
    """Model-based check of the snapshot lifecycle: drive random
    overwrite / metadata-delete / compact sequences against an in-memory
    model of {partition -> rows} per version; after EVERY operation the
    live read, the version list, and every retained pinned read must
    equal the model (the io.py versioned-store model test, re-run against
    the manifest protocol)."""
    import random

    KEEP = 3
    for seed in (7, 23):
        rng = random.Random(seed)
        p = str(tmp_path / f"model_{seed}")
        model: dict[str, dict[int, int]] = {}  # leaf -> {id: v}
        history: dict[int, dict[str, dict[int, int]]] = {}
        next_id = 1000
        version = 0

        def commit_overwrite():
            nonlocal next_id, version
            parts = rng.sample(["0", "1", "2", "3"], rng.randint(1, 3))
            rows = []
            for d in parts:
                n = rng.randint(1, 4)
                rows += [
                    (next_id + i, d, (next_id + i) * 7) for i in range(n)
                ]
                next_id += n
            df = spark.createDataFrame(rows, "id long, d string, v long")
            snap.snapshot_partition_overwrite(
                spark, df, p, "d", keep_snapshots=KEEP,
                stats_cols=["v"] if rng.random() < 0.5 else None,
            )
            for d in parts:
                model[f"d={d}"] = {
                    r[0]: r[2] for r in rows if r[1] == d
                }
            version += 1
            history[version] = {k: dict(v) for k, v in model.items()}

        commit_overwrite()  # seed state
        for _ in range(8):
            op = rng.choice(["overwrite", "overwrite", "delete", "compact"])
            if op == "overwrite":
                commit_overwrite()
            elif op == "delete" and model:
                leaf = rng.choice(sorted(model))
                snap.snapshot_delete_partitions(
                    spark, p, [leaf.split("=")[1]], keep_snapshots=KEEP
                )
                model.pop(leaf)
                version += 1
                history[version] = {k: dict(v) for k, v in model.items()}
            elif op == "compact" and model:
                leaf = rng.choice(sorted(model))
                snap.snapshot_compact_partition(
                    spark, p, leaf.split("=")[1], keep_snapshots=KEEP
                )
                version += 1  # content identical, new version
                history[version] = {k: dict(v) for k, v in model.items()}
            else:
                continue

            got = {
                (r["id"], str(r["d"]), r["v"])
                for r in snap.snapshot_read(spark, p).collect()
            }
            want = {
                (i, leaf.split("=")[1], v)
                for leaf, rows in model.items()
                for i, v in rows.items()
            }
            assert got == want, f"live mismatch at v{version} (seed {seed})"
            versions = snap.snapshot_versions(spark, p)
            assert versions == list(range(max(1, version - KEEP + 1), version + 1))
            for pv in versions:
                hist = history[pv]
                got_v = {
                    (r["id"], str(r["d"]), r["v"])
                    for r in snap.snapshot_read(spark, p, version=pv).collect()
                }
                want_v = {
                    (i, leaf.split("=")[1], v)
                    for leaf, rows in hist.items()
                    for i, v in rows.items()
                }
                assert got_v == want_v, f"pinned v{pv} mismatch (seed {seed})"

            # disk invariant: the token dirs on disk are EXACTLY the
            # union of the retained manifests' references — a leak means
            # the scoped vacuum failed to reclaim a newly-dead dir, an
            # extra deletion would have broken a pinned read above
            import os as _os

            on_disk: dict[str, set] = {}
            for leaf in _os.listdir(p):
                if "=" not in leaf:
                    continue
                for tok in _os.listdir(f"{p}/{leaf}"):
                    if tok.startswith("__s") and tok.endswith("__"):
                        on_disk.setdefault(leaf, set()).add(tok)
            referenced: dict[str, set] = {}
            for pv in versions:
                m = snap.snapshot_manifest(spark, p, version=pv)
                for leaf in m["partitions"]:
                    referenced.setdefault(leaf, set()).update(
                        snap._leaf_toks(m, leaf)
                    )
                for leaf, toks in m.get("deletes", {}).items():
                    referenced.setdefault(leaf, set()).update(toks)
            assert on_disk == referenced, (
                f"disk/manifest drift at v{version} (seed {seed}): "
                f"leaked={{k: v - referenced.get(k, set()) for k, v in "
                f"on_disk.items()}}"
            )


def test_schema_evolution_across_snapshot_versions(spark, tmp_path):
    """A commit may add columns: the manifest records the committed
    schema, so reads fill the new column with NULL for partitions written
    by older commits (carried over by reference, never rewritten), and
    the partition column keeps its declared type across versions."""
    p = str(tmp_path / "evolve")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20)), p, "d", keep_snapshots=3
    )
    upd = (
        _df(spark, range(20))
        .where(F.col("d") == "1")
        .withColumn("quality", F.col("id") * 2)
    )
    snap.snapshot_partition_overwrite(spark, upd, p, "d", keep_snapshots=3)
    live = snap.snapshot_read(spark, p)
    assert dict(live.dtypes)["d"] == "string"
    assert "quality" in live.columns
    rows = {r["id"]: r["quality"] for r in live.collect()}
    assert rows[5] == 10 and rows[9] == 18  # d=1: evolved rows carry values
    assert rows[0] is None and rows[2] is None  # older partitions: NULL
    # pinned v1 still reads with v1's (narrower) schema
    v1 = snap.snapshot_read(spark, p, version=1)
    assert "quality" not in v1.columns
    # CDC across the evolution: d=1 rewritten in place, same keys ->
    # every surviving row is an update (the new column changed it)
    ch = snap.snapshot_changes(spark, p, 1, 2, keys=["id"])
    got = {(r["id"], r["_change"]) for r in ch.collect()}
    assert got == {(i, "update") for i in (1, 5, 9, 13, 17)}


def test_snapshot_changes_preimages_four_class(spark, tmp_path):
    """preimages=True is Delta CDF's four-class protocol: every updated
    key emits exactly an (update_preimage, update_postimage) pair, and
    insert/delete rows are unchanged from the two-image feed."""
    p = str(tmp_path / "cdf4")
    base = spark.createDataFrame(
        [(i, str(i % 2), i * 10) for i in range(8)], "id long, d string, v long"
    )
    snap.snapshot_partition_overwrite(spark, base, p, "d", keep_snapshots=5)
    # d=1 rewritten: 1 deleted, 3 updated, 9 inserted; 5/7 untouched
    d1 = spark.createDataFrame(
        [(3, "1", 999), (5, "1", 50), (7, "1", 70), (9, "1", 90)],
        "id long, d string, v long",
    )
    snap.snapshot_partition_overwrite(spark, d1, p, "d", keep_snapshots=5)
    ch = snap.snapshot_changes(spark, p, 1, 2, keys=["id"], preimages=True)
    got = {(r["id"], r["_change"]): r["v"] for r in ch.collect()}
    assert got == {
        (1, "delete"): 10,
        (3, "update_preimage"): 30,
        (3, "update_postimage"): 999,
        (9, "insert"): 90,
    }
    # metadata pruning survives the explode path
    assert all("/d=1/" in f for f in ch.inputFiles())


def test_snapshot_refresh_agg_matches_full_recompute(spark, tmp_path):
    """IVM parity: the refreshed view is EXACTLY the full recompute of
    v2 — including a group that vanishes (all rows deleted) and a group
    born by an update migrating a row across buckets."""
    p = str(tmp_path / "ivm")
    base = spark.createDataFrame(
        [(i, str(i % 2), i % 3, i * 10) for i in range(12)],
        "id long, d string, g int, v long",
    )
    snap.snapshot_partition_overwrite(spark, base, p, "d", keep_snapshots=5)
    # d=1 rewrite: delete every g=0 row (ids 3,9); migrate id 1 from g=1
    # to g=7 (a brand-new group); bump v on id 5; leave 7,11 untouched
    d1 = spark.createDataFrame(
        [(1, "1", 7, 10), (5, "1", 2, 555), (7, "1", 1, 70), (11, "1", 2, 110)],
        "id long, d string, g int, v long",
    )
    snap.snapshot_partition_overwrite(spark, d1, p, "d", keep_snapshots=5)

    def prep(df):
        return df.withColumn("val", F.col("v").cast("decimal(18,6)"))

    def full_view(version):
        return (
            prep(snap.snapshot_read(spark, p, version=version))
            .groupBy("g")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("val").alias("sum_val"),
            )
        )

    refreshed = snap.snapshot_refresh_agg(
        spark, p, 1, 2, ["id"], full_view(1), ["g"], ["val"], prep=prep
    )
    want = sorted(map(tuple, full_view(2).collect()))
    got = sorted(map(tuple, refreshed.collect()))
    assert got == want
    # the new group g=7 exists; a fully-deleted group would be absent
    assert any(r[0] == 7 for r in got)


def test_zorder_file_skipping(spark, tmp_path):
    """File-grain pruning: a z-ordered commit with per-file stats lets
    snapshot_read(between=...) skip FILES inside kept partitions — and
    the skipped scan returns exactly what a full scan + filter would."""
    p = str(tmp_path / "zorder")
    df = spark.range(4000).select(
        "id",
        (F.col("id") % 2).cast("string").alias("d"),
        (F.col("id") % 100).alias("x"),
        (F.col("id") * 7 % 1000).alias("y"),
    )
    snap.snapshot_partition_overwrite(
        spark, df, p, "d",
        stats_cols=["x"], zorder_cols=["x", "y"],
        file_stats=True, max_records_per_file=100, keep_snapshots=2,
    )
    m = snap.snapshot_manifest(spark, p)
    assert m["file_stats"] and all(m["file_stats"].values())
    full = snap.snapshot_read(spark, p)
    total = len(full.inputFiles())
    assert total > 4  # multiple files per partition or the test is vacuous
    pruned = snap.snapshot_read(spark, p, between=("x", 10, 19))
    assert 0 < len(pruned.inputFiles()) < total
    want = full.where(F.col("x").between(10, 19)).agg(
        F.count("*"), F.sum("id")
    ).first()
    got = pruned.where(F.col("x").between(10, 19)).agg(
        F.count("*"), F.sum("id")
    ).first()
    assert tuple(got) == tuple(want)


def test_compaction_rederives_file_stats(spark, tmp_path):
    """OPTIMIZE on a file-stats partition re-records stats at the new
    file boundaries instead of dropping (or worse, keeping stale) them."""
    p = str(tmp_path / "zcomp")
    df = spark.range(1000).select(
        "id", F.lit("a").alias("d"), (F.col("id") % 50).alias("x")
    )
    snap.snapshot_partition_overwrite(
        spark, df, p, "d", stats_cols=["x"], zorder_cols=["x"],
        file_stats=True, max_records_per_file=100, keep_snapshots=2,
    )
    before = snap.snapshot_manifest(spark, p)["file_stats"]["d=a"]
    assert len(before) > 1
    snap.snapshot_compact_partition(spark, p, "a", target_files=1)
    after = snap.snapshot_manifest(spark, p)["file_stats"]["d=a"]
    assert len(after) == 1
    (fstat,) = after.values()
    assert [int(float(v)) for v in fstat["x"]] == [0, 49]
    got = snap.snapshot_read(spark, p, between=("x", 5, 7))
    assert got.where(F.col("x").between(5, 7)).count() == 60


def test_maintain_agg_view_across_ticks(spark, tmp_path, monkeypatch):
    """The materialized view catches up incrementally across commits —
    including several commits in ONE pass — and always equals a full
    recompute; once retention drops its base version it rebuilds."""
    src, vw = str(tmp_path / "src"), str(tmp_path / "vw")

    def prep(df):
        return df.withColumn("val", F.col("v").cast("decimal(18,6)"))

    def commit(rows, keep=10):
        df = spark.createDataFrame(rows, "id long, d string, v long")
        return snap.snapshot_partition_overwrite(spark, df, src, "d", keep_snapshots=keep)

    def recompute():
        return sorted(
            map(tuple,
                prep(snap.snapshot_read(spark, src)).groupBy("d").agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("val").alias("sum_val"),
                ).collect()))

    def view_rows():
        return sorted(
            map(tuple, snap.snapshot_read(spark, vw).drop("_src_version").collect())
        )

    commit([(i, str(i % 2), i * 10) for i in range(8)])
    assert snap.maintain_agg_view(spark, src, vw, ["id"], ["d"], ["val"], prep=prep) == 1
    assert view_rows() == recompute()

    # two commits, one catch-up pass, incremental path (full() must not run)
    commit([(1, "1", 999), (3, "1", 30), (5, "1", 50), (7, "1", 70), (9, "1", 90)])
    commit([(0, "0", 5), (2, "0", 20), (4, "0", 40), (6, "0", 60)])
    calls = {"reads": 0}
    orig = snap.snapshot_read

    def spy(spark_, path_, version=None, between=None):
        if path_.rstrip("/") == src and version == 3:
            calls["reads"] += 1  # a full recompute would read the live table
        return orig(spark_, path_, version=version, between=between)

    monkeypatch.setattr(snap, "snapshot_read", spy)
    assert snap.maintain_agg_view(spark, src, vw, ["id"], ["d"], ["val"], prep=prep) == 3
    monkeypatch.undo()
    assert calls["reads"] == 0
    assert view_rows() == recompute()
    # idempotent no-op when current
    assert snap.maintain_agg_view(spark, src, vw, ["id"], ["d"], ["val"], prep=prep) == 3

    # retention drops the view's base: falls back to a full rebuild
    for k in range(4):
        commit([(100 + k, "0", k)], keep=1)
    assert snap.maintain_agg_view(spark, src, vw, ["id"], ["d"], ["val"], prep=prep) == 7
    assert view_rows() == recompute()


def test_row_deletes_merge_on_read(spark, tmp_path):
    """snapshot_delete_rows removes rows WITHOUT touching data files
    (merge-on-read): data-dir tokens are unchanged across the commit,
    delete files stack, time travel still sees the rows, the change feed
    surfaces delete-only commits, and compaction materializes the debt."""
    p = str(tmp_path / "mor")
    base = spark.createDataFrame(
        [(i, str(i % 2), i * 10) for i in range(12)], "id long, d string, v long"
    )
    snap.snapshot_partition_overwrite(spark, base, p, "d", keep_snapshots=9)
    m1 = snap.snapshot_manifest(spark, p)

    v2 = snap.snapshot_delete_rows(
        spark, p, F.col("v") >= 90, keys=["id"], keep_snapshots=9
    )
    assert v2 == 2
    m2 = snap.snapshot_manifest(spark, p)
    assert m2["partitions"] == m1["partitions"]  # no data rewrite
    assert m2["deletes"] and m2["delete_keys"] == ["id"]
    live = snap.snapshot_read(spark, p)
    assert sorted(r["id"] for r in live.collect()) == list(range(9))
    # time travel: v1 still has the full logical content
    assert snap.snapshot_read(spark, p, version=1).count() == 12

    # deletes stack across commits
    snap.snapshot_delete_rows(spark, p, F.col("id") == 0, keys=["id"], keep_snapshots=9)
    assert sorted(
        r["id"] for r in snap.snapshot_read(spark, p).collect()
    ) == list(range(1, 9))

    # mismatched delete keys are rejected
    try:
        snap.snapshot_delete_rows(spark, p, F.col("id") == 1, keys=["v"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass

    # no-op predicate: no new version
    v_now = snap.snapshot_versions(spark, p)[-1]
    assert (
        snap.snapshot_delete_rows(spark, p, F.col("id") == 999, keys=["id"], keep_snapshots=9)
        == v_now
    )

    # change feed: the delete-only commit surfaces exactly the doomed rows
    ch = snap.snapshot_changes(spark, p, 1, 2, keys=["id"])
    got = {(r["id"], r["_change"]) for r in ch.collect()}
    assert got == {(9, "delete"), (10, "delete"), (11, "delete")}

    # compaction materializes pending deletes and clears the debt
    snap.snapshot_compact_partition(spark, p, "0", target_files=1)
    m_after = snap.snapshot_manifest(spark, p)
    assert "d=0" not in m_after.get("deletes", {})
    assert sorted(
        r["id"] for r in snap.snapshot_read(spark, p).collect()
    ) == list(range(1, 9))


@pytest.mark.parametrize(
    "part", [None, "a:b #1"], ids=["null_partition", "escaped_partition_value"]
)
def test_row_deletes_null_and_escaped_partition_values(spark, tmp_path, part):
    """In-range rows whose partition value is NULL (the
    __HIVE_DEFAULT_PARTITION__ leaf) or needs Hive path escaping (:, #,
    space) are deleted like any other; re-running the same delete is a
    no-op, and compacting the emptied partition retires its leaf without
    resurrecting a row."""
    p = str(tmp_path / "t")
    rows = [(i, part if i < 10 else "plain", i) for i in range(20)]
    snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame(rows, "id long, d string, v long"),
        p,
        "d",
        keep_snapshots=9,
    )
    (leaf,) = set(snap.snapshot_manifest(spark, p)["partitions"]) - {"d=plain"}
    in_part = F.col("d").eqNullSafe(F.lit(part))
    assert snap.snapshot_read(spark, p).where(in_part).count() == 10

    doomed = F.col("id").between(0, 9)
    v = snap.snapshot_delete_rows(spark, p, doomed, keys=["id"], keep_snapshots=9)
    live = snap.snapshot_read(spark, p)
    assert sorted(r["id"] for r in live.collect()) == list(range(10, 20))
    assert live.where(in_part).count() == 0
    # the predicate matches nothing live any more: no new version
    assert snap.snapshot_delete_rows(
        spark, p, doomed, keys=["id"], keep_snapshots=9
    ) == v

    snap.snapshot_compact_partition(
        spark, p, leaf.split("=", 1)[1], keep_snapshots=9
    )
    m = snap.snapshot_manifest(spark, p)
    assert sorted(m["partitions"]) == ["d=plain"]
    assert not m.get("deletes")
    assert sorted(
        r["id"] for r in snap.snapshot_read(spark, p).collect()
    ) == list(range(10, 20))

def test_row_deletes_ivm_and_vacuum(spark, tmp_path):
    """The IVM refresh consumes delete-only commits correctly, and vacuum
    keeps delete files alive while a retained manifest references them."""
    p = str(tmp_path / "mor2")
    base = spark.createDataFrame(
        [(i, str(i % 2), i % 3, i * 10) for i in range(12)],
        "id long, d string, g int, v long",
    )
    snap.snapshot_partition_overwrite(spark, base, p, "d", keep_snapshots=3)

    def prep(df):
        return df.withColumn("val", F.col("v").cast("decimal(18,6)"))

    view1 = (
        prep(snap.snapshot_read(spark, p, version=1))
        .groupBy("g")
        .agg(F.count("*").cast("long").alias("n"), F.sum("val").alias("sum_val"))
    )
    snap.snapshot_delete_rows(spark, p, F.col("g") == 1, keys=["id"], keep_snapshots=3)
    refreshed = snap.snapshot_refresh_agg(
        spark, p, 1, 2, ["id"], view1, ["g"], ["val"], prep=prep
    )
    want = sorted(
        map(tuple,
            prep(snap.snapshot_read(spark, p)).groupBy("g").agg(
                F.count("*").cast("long").alias("n"),
                F.sum("val").alias("sum_val"),
            ).collect()))
    assert sorted(map(tuple, refreshed.collect())) == want
    assert not any(r[0] == 1 for r in want)  # the group died

    # retention: drop history down to 1 — the delete files the LIVE
    # manifest references must survive the vacuum
    snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame([(100, "0", 0, 1000)], "id long, d string, g int, v long"),
        p, "d", keep_snapshots=1,
    )
    live = snap.snapshot_read(spark, p)
    # d=0 rewritten (deletes cleared there); d=1 still carries its delete
    ids = sorted(r["id"] for r in live.collect())
    assert 100 in ids and not any(i % 3 == 1 and i % 2 == 1 for i in ids if i < 100)


def test_snapshot_append_fast(spark, tmp_path):
    """Fast append stacks new data dirs without rewriting existing ones:
    untouched tokens stay put, stats merge into envelopes, file-skip
    coverage follows the tokens, CDC sees pure inserts, pending delete
    files block the append, and compaction collapses the stack."""
    p = str(tmp_path / "app")
    base = spark.createDataFrame(
        [(i, str(i % 2), i * 10) for i in range(8)], "id long, d string, v long"
    )
    snap.snapshot_partition_overwrite(
        spark, base, p, "d", stats_cols=["v"], file_stats=True, keep_snapshots=9
    )
    m1 = snap.snapshot_manifest(spark, p)

    batch = spark.createDataFrame(
        [(100, "1", 1000), (101, "1", 1010), (200, "2", 2000)],
        "id long, d string, v long",
    )
    v2 = snap.snapshot_append(
        spark, batch, p, "d", stats_cols=["v"], file_stats=True, keep_snapshots=9
    )
    assert v2 == 2
    m2 = snap.snapshot_manifest(spark, p)
    assert m2["partitions"]["d=0"] == m1["partitions"]["d=0"]  # untouched
    toks = m2["partitions"]["d=1"]
    assert isinstance(toks, list) and toks[0] == m1["partitions"]["d=1"]
    assert isinstance(m2["partitions"]["d=2"], str)  # new leaf: plain commit
    assert sorted(r["id"] for r in snap.snapshot_read(spark, p).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 7, 100, 101, 200,
    ]
    assert snap.snapshot_read(spark, p, version=1).count() == 8  # time travel
    # stats envelope: d=1 covers old [10, 70] and new [1000, 1010]
    assert m2["stats"]["d=1"]["v"] == [10, 1010]
    # file-skip coverage: every data dir of d=1 is attributed
    assert {k.split("/", 1)[0] for k in m2["file_stats"]["d=1"]} == set(toks)
    pruned = snap.snapshot_read(spark, p, between=("v", 1000, 1010))
    assert sorted(
        r["id"] for r in pruned.where(F.col("v").between(1000, 1010)).collect()
    ) == [100, 101]
    # CDC across the append: inserts only, exactly the batch
    ch = snap.snapshot_changes(spark, p, 1, 2, keys=["id"])
    assert {(r["id"], r["_change"]) for r in ch.collect()} == {
        (100, "insert"), (101, "insert"), (200, "insert"),
    }

    # append WITHOUT stats: the leaf's pruning metadata must drop
    snap.snapshot_append(
        spark,
        spark.createDataFrame([(102, "1", 5)], "id long, d string, v long"),
        p, "d", keep_snapshots=9,
    )
    m3 = snap.snapshot_manifest(spark, p)
    assert "d=1" not in m3["stats"] and "d=1" not in m3["file_stats"]
    # ...so a between-read keeps (not skips) the statless leaf
    assert 102 in {
        r["id"]
        for r in snap.snapshot_read(spark, p, between=("v", 0, 6)).collect()
    }

    # sequence semantics: appending over pending delete files is safe —
    # the delete (v_d) applies only to dirs committed before it, so a
    # RE-APPENDED deleted key comes back alive (Iceberg v2 sequence
    # numbers), while the originally-deleted row stays gone
    snap.snapshot_delete_rows(spark, p, F.col("id") == 0, keys=["id"], keep_snapshots=9)
    assert 0 not in {r["id"] for r in snap.snapshot_read(spark, p).collect()}
    snap.snapshot_append(
        spark,
        spark.createDataFrame([(300, "0", 1), (0, "0", 999)], "id long, d string, v long"),
        p, "d", keep_snapshots=9,
    )
    rows = {r["id"]: r["v"] for r in snap.snapshot_read(spark, p).collect()}
    assert rows[300] == 1 and rows[0] == 999  # resurrection carries NEW value
    # compaction materializes the surviving state and retires the debt
    snap.snapshot_compact_partition(spark, p, "0", target_files=1)
    assert "d=0" not in snap.snapshot_manifest(spark, p).get("deletes", {})
    rows2 = {r["id"]: r["v"] for r in snap.snapshot_read(spark, p).collect()}
    assert rows2[0] == 999 and rows2[300] == 1

    # schema evolution on append: new column, old dirs read NULL
    snap.snapshot_append(
        spark,
        spark.createDataFrame([(400, "2", 7, "x")], "id long, d string, v long, tag string"),
        p, "d", keep_snapshots=9,
    )
    live = snap.snapshot_read(spark, p)
    assert dict(live.dtypes)["tag"] == "string"
    tags = {r["id"]: r["tag"] for r in live.collect()}
    assert tags[400] == "x" and tags[100] is None


def test_snapshot_upsert_rows_mor(spark, tmp_path):
    """Atomic merge-on-read upsert: ONE commit retires matched rows via
    delete files and appends the source — no partition rewrite, updated
    values visible, unmatched target rows untouched, partition-moving
    keys handled, pre-upsert version pinnable."""
    p = str(tmp_path / "upsert")
    base = spark.createDataFrame(
        [(i, str(i % 2), i * 10) for i in range(10)], "id long, d string, v long"
    )
    snap.snapshot_partition_overwrite(spark, base, p, "d", keep_snapshots=9)
    m1 = snap.snapshot_manifest(spark, p)
    # id 3 updated in place; id 4 MOVES partition (d 0 -> 1); id 100 new
    src = spark.createDataFrame(
        [(3, "1", 333), (4, "1", 444), (100, "0", 1000)],
        "id long, d string, v long",
    )
    v2 = snap.snapshot_upsert_rows(spark, p, src, keys=["id"], keep_snapshots=9)
    assert v2 == 2
    m2 = snap.snapshot_manifest(spark, p)
    # base data dirs survive as the first token of each leaf (no rewrite)
    for leaf, tok in m1["partitions"].items():
        now = m2["partitions"][leaf]
        assert now == tok or (isinstance(now, list) and now[0] == tok)
    rows = {r["id"]: (r["d"], r["v"]) for r in snap.snapshot_read(spark, p).collect()}
    want = {i: (str(i % 2), i * 10) for i in range(10) if i not in (3, 4)}
    want.update({3: ("1", 333), 4: ("1", 444), 100: ("0", 1000)})
    assert rows == want
    # exactly one version added; pre-upsert state pinnable
    assert snap.snapshot_versions(spark, p) == [1, 2]
    assert snap.snapshot_read(spark, p, version=1).count() == 10
    # CDC across the upsert classifies update vs insert correctly
    ch = snap.snapshot_changes(spark, p, 1, 2, keys=["id"])
    got = {(r["id"], r["_change"]) for r in ch.collect()}
    assert (100, "insert") in got and (3, "update") in got
    # the moved key surfaces as delete-in-old + insert-in-new partition
    assert (4, "delete") in got and (4, "insert") in got


def test_snapshot_consume_changes_cursor(spark, tmp_path):
    """Pull-model CDC consumer: initial load, multi-commit catch-up in
    one batch, no-op when current, a crash before the consumer records
    the version redelivers, lagging past retention raises."""
    p = str(tmp_path / "feed")
    seen = []

    def commit(rows, keep=9):
        df = spark.createDataFrame(rows, "id long, d string, v long")
        snap.snapshot_partition_overwrite(spark, df, p, "d", keep_snapshots=keep)

    commit([(i, str(i % 2), i * 10) for i in range(6)])
    since = snap.snapshot_consume_changes(
        spark, p, None, ["id"], lambda b, _v: seen.append(
            sorted((r["id"], r["_change"]) for r in b.collect()))
    )
    assert since == 1
    assert seen[-1] == [(i, "insert") for i in range(6)]
    # nothing new -> None, process not called
    assert snap.snapshot_consume_changes(
        spark, p, since, ["id"], lambda b, _v: seen.append("BOOM")) is None
    assert seen[-1] != "BOOM"

    # two commits, one catch-up batch
    commit([(1, "1", 999), (3, "1", 30), (5, "1", 50), (7, "1", 70)])
    commit([(0, "0", 5), (2, "0", 20), (4, "0", 40)])
    since = snap.snapshot_consume_changes(
        spark, p, since, ["id"], lambda b, _v: seen.append(
            sorted((r["id"], r["_change"]) for r in b.collect()))
    )
    assert since == 3
    assert seen[-1] == [(0, "update"), (1, "update"), (7, "insert")]

    # crash before the consumer records v4: redelivered identically
    commit([(9, "1", 90), (1, "1", 999), (3, "1", 30), (5, "1", 50), (7, "1", 70)])

    def boom(b, _v):
        raise RuntimeError("consumer crashed")

    try:
        snap.snapshot_consume_changes(spark, p, since, ["id"], boom)
        raise AssertionError("expected RuntimeError")
    except RuntimeError:
        pass
    since = snap.snapshot_consume_changes(
        spark, p, since, ["id"], lambda b, _v: seen.append(
            sorted((r["id"], r["_change"]) for r in b.collect()))
    )
    assert since == 4 and seen[-1] == [(9, "insert")]

    # lag past retention: keep=1 sweeps v4 after two more commits
    commit([(20, "0", 200)], keep=1)
    commit([(21, "0", 210)], keep=1)
    try:
        snap.snapshot_consume_changes(spark, p, since, ["id"], lambda b, _v: None)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_snapshot_restore_and_history(spark, tmp_path):
    """RESTORE publishes a new version referencing the old content with
    zero data I/O; DESCRIBE HISTORY names each commit's op."""
    p = str(tmp_path / "hist")
    base = spark.createDataFrame(
        [(i, str(i % 2), i * 10) for i in range(8)], "id long, d string, v long"
    )
    snap.snapshot_partition_overwrite(spark, base, p, "d", keep_snapshots=9)
    snap.snapshot_append(
        spark,
        spark.createDataFrame([(100, "1", 1000)], "id long, d string, v long"),
        p, "d", keep_snapshots=9,
    )
    snap.snapshot_delete_rows(spark, p, F.col("id") == 2, keys=["id"], keep_snapshots=9)
    # bad commit: wipe partition d=0
    snap.snapshot_delete_partitions(spark, p, ["0"], keep_snapshots=9)
    assert snap.snapshot_read(spark, p).count() == 5  # odd ids 1,3,5,7 + 100

    v5 = snap.snapshot_restore(spark, p, 3, keep_snapshots=9)
    assert v5 == 5
    ids = sorted(r["id"] for r in snap.snapshot_read(spark, p).collect())
    assert ids == [0, 1, 3, 4, 5, 6, 7, 100]  # v3 state: id 2 deleted
    hist = snap.snapshot_history(spark, p)
    assert [h["op"] for h in hist] == [
        "overwrite", "append", "delete_rows", "delete_partitions", "restore",
    ]
    assert hist[-1]["n_partitions"] == 2 and hist[-1]["n_delete_files"] == 1
    # compaction op is recorded too
    snap.snapshot_compact_partition(spark, p, "1", target_files=1)
    assert snap.snapshot_history(spark, p)[-1]["op"] == "compact"


def test_snapshot_model_based_mor_sequences(spark, tmp_path):
    """Model-based check of the FULL op set — overwrite, fast append,
    merge-on-read row deletes, atomic MoR upsert (incl. partition-moving
    keys), compact, restore — against an in-memory {leaf -> {id: v}}
    model; after every op the live read and every retained pinned read
    must equal the model. This is where sequence-semantics interaction
    bugs (delete files vs later appends vs compaction vs restore) would
    surface."""
    import copy
    import random

    KEEP = 4
    for seed in (11, 42):
        rng = random.Random(seed)
        p = str(tmp_path / f"mor_model_{seed}")
        model: dict[str, dict[int, int]] = {}
        history: dict[int, dict[str, dict[int, int]]] = {}
        next_id = 1000
        version = 0

        def snap_state():
            nonlocal version
            version += 1
            history[version] = copy.deepcopy(model)

        def all_ids():
            return [i for rows in model.values() for i in rows]

        # seed state
        rows = [(next_id + i, str(i % 3), (next_id + i) * 7) for i in range(9)]
        next_id += 9
        snap.snapshot_partition_overwrite(
            spark,
            spark.createDataFrame(rows, "id long, d string, v long"),
            p, "d", keep_snapshots=KEEP,
        )
        for i, d, v in rows:
            model.setdefault(f"d={d}", {})[i] = v
        snap_state()

        for _ in range(10):
            op = rng.choice(
                ["append", "append", "delete_rows", "upsert", "upsert",
                 "compact", "restore", "overwrite"]
            )
            if op == "overwrite":
                parts = rng.sample(["0", "1", "2"], rng.randint(1, 2))
                rows = []
                for d in parts:
                    n = rng.randint(1, 3)
                    rows += [(next_id + i, d, (next_id + i) * 7) for i in range(n)]
                    next_id += n
                snap.snapshot_partition_overwrite(
                    spark,
                    spark.createDataFrame(rows, "id long, d string, v long"),
                    p, "d", keep_snapshots=KEEP,
                )
                for d in parts:
                    model[f"d={d}"] = {r[0]: r[2] for r in rows if r[1] == d}
            elif op == "append":
                parts = rng.sample(["0", "1", "2", "3"], rng.randint(1, 2))
                rows = []
                for d in parts:
                    n = rng.randint(1, 3)
                    rows += [(next_id + i, d, (next_id + i) * 7) for i in range(n)]
                    next_id += n
                snap.snapshot_append(
                    spark,
                    spark.createDataFrame(rows, "id long, d string, v long"),
                    p, "d", keep_snapshots=KEEP,
                )
                for i, d, v in rows:
                    model.setdefault(f"d={d}", {})[i] = v
            elif op == "delete_rows":
                ids = all_ids()
                if not ids:
                    continue
                doomed = set(rng.sample(ids, rng.randint(1, min(3, len(ids)))))
                got_v = snap.snapshot_delete_rows(
                    spark, p, F.col("id").isin(list(doomed)), keys=["id"],
                    keep_snapshots=KEEP,
                )
                for leaf in list(model):
                    for i in list(model[leaf]):
                        if i in doomed:
                            del model[leaf][i]
                    if not model[leaf]:
                        # empty logical partition still listed; keep model
                        # entry as empty dict to match read (zero rows)
                        pass
            elif op == "upsert":
                ids = all_ids()
                upd = rng.sample(ids, min(2, len(ids))) if ids else []
                src = []
                for i in upd:
                    d = rng.choice(["0", "1", "2", "3"])  # may move partition
                    src.append((i, d, i * 100 + rng.randint(0, 9)))
                for _ in range(rng.randint(1, 2)):
                    d = rng.choice(["0", "1", "2", "3"])
                    src.append((next_id, d, next_id * 7))
                    next_id += 1
                snap.snapshot_upsert_rows(
                    spark,
                    p,
                    spark.createDataFrame(src, "id long, d string, v long"),
                    keys=["id"],
                    keep_snapshots=KEEP,
                )
                src_ids = {r[0] for r in src}
                for leaf in list(model):
                    for i in list(model[leaf]):
                        if i in src_ids:
                            del model[leaf][i]
                for i, d, v in src:
                    model.setdefault(f"d={d}", {})[i] = v
            elif op == "compact":
                leafs = [leaf for leaf in model]
                if not leafs:
                    continue
                leaf = rng.choice(sorted(leafs))
                snap.snapshot_compact_partition(
                    spark, p, leaf.split("=")[1], keep_snapshots=KEEP
                )
            elif op == "restore":
                versions = snap.snapshot_versions(spark, p)
                pv = rng.choice(versions)
                snap.snapshot_restore(spark, p, pv, keep_snapshots=KEEP)
                model = copy.deepcopy(history[pv])
            snap_state()

            def flat(state):
                return {
                    (i, leaf.split("=")[1], v)
                    for leaf, rows_ in state.items()
                    for i, v in rows_.items()
                }

            got = {
                (r["id"], str(r["d"]), r["v"])
                for r in snap.snapshot_read(spark, p).collect()
            }
            assert got == flat(model), f"live mismatch at v{version} (seed {seed})"
            for pv in snap.snapshot_versions(spark, p):
                got_v = {
                    (r["id"], str(r["d"]), r["v"])
                    for r in snap.snapshot_read(spark, p, version=pv).collect()
                }
                assert got_v == flat(history[pv]), (
                    f"pinned v{pv} mismatch (seed {seed})"
                )


def test_snapshot_read_plan_shapes(spark, tmp_path):
    """Plan contracts of the table format: a deleteless snapshot read
    plans NO join (merge-on-read must cost nothing until delete files
    exist), partition pruning still reaches the scan through the
    manifest-resolved paths, and a read WITH deletes plans exactly one
    extra join (the key anti-join), not a scan amplification."""
    p = str(tmp_path / "plans")
    df = spark.createDataFrame(
        [(i, str(i % 3), i * 10) for i in range(30)], "id long, d string, v long"
    )
    snap.snapshot_partition_overwrite(spark, df, p, "d", keep_snapshots=5)
    clean = snap.snapshot_read(spark, p)
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # merge-on-read is free until deletes exist
    # partition pruning reaches the scan through manifest-resolved paths
    pruned = clean.where(F.col("d") == "1")
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and "= 1" in pplan
    assert pruned.count() == 10

    snap.snapshot_delete_rows(spark, p, F.col("id") == 5, keys=["id"], keep_snapshots=5)
    with_del = snap.snapshot_read(spark, p)
    plan2 = with_del._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Join") >= 1
    assert sorted(r["id"] for r in with_del.collect()) == [
        i for i in range(30) if i != 5
    ]


def test_bloom_point_lookup_skips_files(spark, tmp_path):
    """Per-file blooms skip files on a point lookup over a layout NOT
    clustered by the key (min/max ranges span everything); an absent key
    prunes every file, with schema intact; JVM write-side positions match
    the Python probe positions byte for byte (the md5 parity contract)."""
    rows = spark.range(9).select(
        "id", F.array(*snap._bloom_pos_exprs("id", snap.BLOOM_M, snap.BLOOM_K)).alias("p")
    ).collect()
    for r in rows:
        assert [int(x) for x in r["p"]] == snap.bloom_probe_positions(r["id"])

    p = str(tmp_path / "bloom")
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("d"),
        (F.col("id") * 7 % 1000).alias("v"),
    )
    snap.snapshot_partition_overwrite(
        spark, df.repartition(6), p, "d",
        bloom_cols=["k"], max_records_per_file=100, keep_snapshots=2,
    )
    m = snap.snapshot_manifest(spark, p)
    assert m["bloom"] == {"m": snap.BLOOM_M, "k": snap.BLOOM_K}
    assert m["file_blooms"] and all(m["file_blooms"].values())
    total = len(snap.snapshot_read(spark, p).inputFiles())
    assert total > 6
    pruned = snap.snapshot_read(spark, p, point=("k", 1234))
    assert 0 < len(pruned.inputFiles()) < total
    got = pruned.where(F.col("k") == 1234).collect()
    assert len(got) == 1 and got[0]["v"] == 1234 * 7 % 1000
    absent = snap.snapshot_read(spark, p, point=("k", 10**9))
    assert len(absent.inputFiles()) == 0
    assert absent.where(F.col("k") == 10**9).count() == 0
    assert set(absent.columns) == set(df.columns)
    # no false negatives anywhere
    for k in range(0, 4000, 333):
        hit = snap.snapshot_read(spark, p, point=("k", k))
        assert hit.where(F.col("k") == k).count() == 1
    # IN-list probe: any-match union of the per-value file sets
    many = snap.snapshot_read(spark, p, point=("k", [7, 3900, 10**9]))
    assert 0 < len(many.inputFiles()) < total
    assert many.where(F.col("k").isin(7, 3900, 10**9)).count() == 2


def test_bloom_append_coverage_and_compaction(spark, tmp_path):
    """Coverage rules mirror file stats: an append WITHOUT bloom_cols
    voids the leaf's file-skip entry (conservative full scan, still
    correct); an append WITH them extends coverage and keeps skipping;
    compaction re-derives bitmaps at the new file boundaries; row
    deletes leave bitmaps valid (conservative — extra set bits only)."""
    p = str(tmp_path / "bloomapp")
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.lit("a").alias("d")
    )
    snap.snapshot_partition_overwrite(
        spark, df, p, "d", bloom_cols=["k"],
        max_records_per_file=100, keep_snapshots=3,
    )
    # covered append: new keys probe-able, old keys still skip
    snap.snapshot_append(
        spark,
        spark.range(1000, 1200).select(F.col("id").alias("k"), F.lit("a").alias("d")),
        p, "d", bloom_cols=["k"], max_records_per_file=100, keep_snapshots=3,
    )
    total = len(snap.snapshot_read(spark, p).inputFiles())
    hit = snap.snapshot_read(spark, p, point=("k", 1100))
    assert 0 < len(hit.inputFiles()) < total
    assert hit.where(F.col("k") == 1100).count() == 1
    assert snap.snapshot_read(spark, p, point=("k", 50)).where(
        F.col("k") == 50
    ).count() == 1
    # uncovered append: leaf's bloom entry dropped, reads stay correct
    snap.snapshot_append(
        spark,
        spark.range(2000, 2100).select(F.col("id").alias("k"), F.lit("a").alias("d")),
        p, "d", keep_snapshots=3,
    )
    m = snap.snapshot_manifest(spark, p)
    assert "d=a" not in m["file_blooms"]
    full = snap.snapshot_read(spark, p, point=("k", 2050))
    assert full.where(F.col("k") == 2050).count() == 1
    # row delete: bitmaps conservative, deleted key reads as gone
    snap.snapshot_delete_rows(spark, p, F.col("k") == 50, keys=["k"], keep_snapshots=3)
    assert snap.snapshot_read(spark, p, point=("k", 50)).where(
        F.col("k") == 50
    ).count() == 0
    # compaction re-derives: first rebuild bloom coverage via overwrite
    live = snap.snapshot_read(spark, p)
    snap.snapshot_partition_overwrite(
        spark, live, p, "d", bloom_cols=["k"],
        max_records_per_file=100, keep_snapshots=3,
    )
    snap.snapshot_compact_partition(spark, p, "a", target_files=2)
    m2 = snap.snapshot_manifest(spark, p)
    assert m2["op"] == "compact" and len(m2["file_blooms"]["d=a"]) == 2
    assert snap.snapshot_read(spark, p, point=("k", 1100)).where(
        F.col("k") == 1100
    ).count() == 1


def test_bloom_composes_with_between_and_upsert(spark, tmp_path):
    """point= and between= intersect their file lists; an upsert that
    appends into a bloomed leaf voids its coverage (the anti-join still
    hides retired rows)."""
    p = str(tmp_path / "bloomix")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("d"),
        (F.col("id") % 100).alias("x"),
    )
    snap.snapshot_partition_overwrite(
        spark, df, p, "d",
        stats_cols=["x"], zorder_cols=["x"], file_stats=True,
        bloom_cols=["k"], max_records_per_file=100, keep_snapshots=2,
    )
    total = len(snap.snapshot_read(spark, p).inputFiles())
    both = snap.snapshot_read(
        spark, p, between=("x", 10, 19), point=("k", 315)
    )
    only_rng = snap.snapshot_read(spark, p, between=("x", 10, 19))
    assert len(both.inputFiles()) <= len(only_rng.inputFiles()) < total
    assert both.where((F.col("k") == 315) & F.col("x").between(10, 19)).count() == 1
    # upsert appends into the leaf -> coverage voided, correctness kept
    up = spark.createDataFrame([(315, "1", 999)], "k long, d string, x long")
    snap.snapshot_upsert_rows(spark, p, up, keys=["k"], keep_snapshots=2)
    m = snap.snapshot_manifest(spark, p)
    assert "d=1" not in m["file_blooms"]
    got = snap.snapshot_read(spark, p, point=("k", 315)).where(F.col("k") == 315)
    assert [r["x"] for r in got.collect()] == [999]


def test_tags_pin_versions_past_retention(spark, tmp_path):
    """A tag is an immutable named ref: read-by-tag resolves it, vacuum
    pins the tagged manifest AND its data dirs past keep_snapshots, and
    dropping the tag lets the next commit's vacuum reclaim them."""
    p = str(tmp_path / "tags")
    snap.snapshot_partition_overwrite(spark, _df(spark, range(10)), p, "d", keep_snapshots=2)
    assert snap.snapshot_tag(spark, p, "train-v1") == 1
    # idempotent same-version re-tag; re-point rejected
    assert snap.snapshot_tag(spark, p, "train-v1", version=1) == 1
    for k in (2, 3, 4):
        snap.snapshot_partition_overwrite(
            spark, _df(spark, range(10), mult=10 ** (k - 1)), p, "d", keep_snapshots=2
        )
    try:
        snap.snapshot_tag(spark, p, "train-v1", version=4)
        raise AssertionError("re-point should be rejected")
    except ValueError:
        pass
    # v1 outlived keep_snapshots=2 because the tag pins it
    assert 1 in snap.snapshot_versions(spark, p)
    assert 2 not in snap.snapshot_versions(spark, p)
    tagged = snap.snapshot_read(spark, p, tag="train-v1")
    assert tagged.agg(F.sum("id")).first()[0] == 45
    assert snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0] == 45 * 1000
    hist = {h["version"]: h["tags"] for h in snap.snapshot_history(spark, p)}
    assert hist[1] == ["train-v1"] and hist[4] == []
    assert snap.snapshot_tags(spark, p) == {"train-v1": 1}
    # drop -> next commit vacuums v1 away
    snap.snapshot_drop_tag(spark, p, "train-v1")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(10), mult=10000), p, "d", keep_snapshots=2
    )
    assert snap.snapshot_versions(spark, p) == [4, 5]
    try:
        snap.snapshot_read(spark, p, tag="train-v1")
        raise AssertionError("dropped tag should not resolve")
    except FileNotFoundError:
        pass
    # invalid names rejected; tagging an unretained version rejected
    for bad in ("", "a/b", "x y"):
        try:
            snap.snapshot_tag(spark, p, bad)
            raise AssertionError("invalid tag accepted")
        except ValueError:
            pass
    try:
        snap.snapshot_tag(spark, p, "gone", version=1)
        raise AssertionError("unretained version tagged")
    except FileNotFoundError:
        pass


def test_wap_stage_audit_publish(spark, tmp_path):
    """Write-audit-publish: a staged commit is invisible to readers and
    to concurrent writers' read-modify-write; the auditor reads it by
    version; publish makes exactly the audited bytes live; vacuum never
    sweeps a staged commit's data dirs while the audit is in flight."""
    p = str(tmp_path / "wap")
    snap.snapshot_partition_overwrite(spark, _df(spark, range(20)), p, "d", keep_snapshots=2)
    base_sum = snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0]
    sv = snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20), mult=100), p, "d",
        keep_snapshots=2, audit=True,
    )
    # invisible: latest read, versions, history all pre-audit
    assert snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0] == base_sum
    assert sv not in snap.snapshot_versions(spark, p)
    assert snap.snapshot_staged(spark, p) == [sv]
    # auditor sees the staged state by version
    audited = snap.snapshot_read(spark, p, version=sv)
    assert audited.agg(F.sum("id")).first()[0] == base_sum * 100
    # a concurrent commit during the audit doesn't extend the staged
    # state (parent = published head), and vacuum keeps the staged dirs
    snap.snapshot_partition_overwrite(
        spark,
        _df(spark, range(20)).where(F.col("d") == "1").withColumn("id", F.col("id") * 7),
        p, "d", keep_snapshots=2,
    )
    assert snap.snapshot_read(spark, p, version=sv).agg(F.sum("id")).first()[0] == base_sum * 100
    # publish now conflicts (head moved past the staged parent)
    try:
        snap.snapshot_publish(spark, p, sv)
        raise AssertionError("publish should conflict after a concurrent commit")
    except RuntimeError:
        pass
    snap.snapshot_discard_staged(spark, p, sv)
    assert snap.snapshot_staged(spark, p) == []
    # re-stage against the new head, publish cleanly
    sv2 = snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20), mult=100), p, "d",
        keep_snapshots=2, audit=True,
    )
    live = snap.snapshot_publish(spark, p, sv2)
    assert snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0] == base_sum * 100
    assert snap.snapshot_staged(spark, p) == []
    hist = {h["version"]: h["op"] for h in snap.snapshot_history(spark, p)}
    assert hist[live] == "publish"
    # restore cannot resurrect a staged manifest (publish is the path)
    sv3 = snap.snapshot_append(
        spark,
        spark.createDataFrame([(999, "1")], "id long, d string"),
        p, "d", keep_snapshots=2, audit=True,
    )
    try:
        snap.snapshot_restore(spark, p, sv3)
        raise AssertionError("restore of a staged manifest should be rejected")
    except ValueError:
        pass
    # tags only point at published versions
    try:
        snap.snapshot_tag(spark, p, "bad", version=sv3)
        raise AssertionError("tagging a staged version should be rejected")
    except FileNotFoundError:
        pass
    snap.snapshot_discard_staged(spark, p, sv3)


def test_wap_discard_sweeps_staged_dirs(spark, tmp_path):
    """Discarding a failed audit reclaims the staged data dirs; the
    published table is untouched throughout."""
    p = str(tmp_path / "wapd")
    snap.snapshot_partition_overwrite(spark, _df(spark, range(8)), p, "d", keep_snapshots=2)
    sv = snap.snapshot_partition_overwrite(
        spark, _df(spark, range(8), mult=5), p, "d", keep_snapshots=2, audit=True
    )
    tok = snap.snapshot_manifest(spark, p, version=sv)["partitions"]["d=1"]
    tok = tok if isinstance(tok, str) else tok[-1]
    assert os.path.isdir(f"{p}/d=1/{tok}")
    snap.snapshot_discard_staged(spark, p, sv)
    assert not os.path.isdir(f"{p}/d=1/{tok}")
    assert snap.snapshot_read(spark, p).count() == 8


def test_wap_discarded_version_numbers_never_reused(spark, tmp_path):
    """A discarded staged version's number is tombstoned: the next
    commit takes a HIGHER number, so an auditor still pinned to the
    discarded version errors instead of silently reading an unrelated
    commit's rows; publish retried across the crash window between its
    manifest write and the staged cleanup is idempotent."""
    p = str(tmp_path / "wapnum")
    snap.snapshot_partition_overwrite(spark, _df(spark, range(8)), p, "d", keep_snapshots=3)
    sv = snap.snapshot_partition_overwrite(
        spark, _df(spark, range(8), mult=3), p, "d", keep_snapshots=3, audit=True
    )
    snap.snapshot_discard_staged(spark, p, sv)
    v_next = snap.snapshot_partition_overwrite(
        spark, _df(spark, range(8), mult=5), p, "d", keep_snapshots=3
    )
    assert v_next > sv  # number not reused
    try:
        snap.snapshot_read(spark, p, version=sv)
        raise AssertionError("pinned read of a discarded version must error")
    except FileNotFoundError:
        pass
    # crash window: publish wrote its copy but died before deleting the
    # staged manifest — the retry recognizes published_from and finishes
    sv2 = snap.snapshot_partition_overwrite(
        spark, _df(spark, range(8), mult=7), p, "d", keep_snapshots=3, audit=True
    )
    calls = {"n": 0}
    real_delete = snap._delete

    def flaky_delete(jvm, fs, path_):
        if "__snap__/m" in path_ and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected crash before staged cleanup")
        return real_delete(jvm, fs, path_)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    mp.setattr(snap, "_delete", flaky_delete)
    try:
        try:
            snap.snapshot_publish(spark, p, sv2)
            raise AssertionError("injected crash did not propagate")
        except RuntimeError:
            pass
    finally:
        mp.undo()
    assert snap.snapshot_staged(spark, p) == [sv2]  # stranded manifest
    v_pub = snap.snapshot_publish(spark, p, sv2)  # retry: idempotent
    assert snap.snapshot_staged(spark, p) == []
    assert snap.snapshot_manifest(spark, p)["version"] == v_pub
    assert snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0] == 28 * 7
    # a second retry after cleanup still returns the same live version
    assert snap.snapshot_publish(spark, p, sv2) == v_pub


def test_drop_tag_rejects_invalid_names(spark, tmp_path):
    """snapshot_drop_tag validates names like snapshot_tag does — a
    traversal-shaped name must never build a delete path."""
    p = str(tmp_path / "tagval")
    snap.snapshot_partition_overwrite(spark, _df(spark, range(4)), p, "d", keep_snapshots=2)
    snap.snapshot_tag(spark, p, "ok")
    # "." and ".." are harmless here (the tag_ filename prefix means no
    # name is ever a bare path component); separators are the danger
    for bad in ("x/../../m000001", "a/b", "", "x y", "a\\b"):
        try:
            snap.snapshot_drop_tag(spark, p, bad)
            raise AssertionError(f"invalid tag name accepted: {bad!r}")
        except ValueError:
            pass
    assert snap.snapshot_tags(spark, p) == {"ok": 1}


def test_snapshot_model_based_wap_sequences(spark, tmp_path):
    """Model-based check of the staged-commit lifecycle under random
    interleavings of {published commit, stage, publish, discard}: the
    live read always equals the published-only model, every in-flight
    staged version reads back exactly what was staged (immutable under
    later published commits), publish succeeds iff the head has not
    moved since staging (and conflicts loudly otherwise), and version
    numbers are strictly increasing and never reused across discards."""
    import copy
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        p = str(tmp_path / f"wap_model_{seed}")
        model: dict[str, dict[int, int]] = {}
        staged: dict[int, tuple[int, dict]] = {}  # sv -> (parent, state)
        seen_numbers: set[int] = set()
        next_id = 5000

        def mk_rows(parts):
            nonlocal next_id
            rows = []
            for d in parts:
                n = rng.randint(1, 3)
                rows += [(next_id + i, d, (next_id + i) * 3) for i in range(n)]
                next_id += n
            return rows

        def do_overwrite(audit):
            parts = rng.sample(["0", "1", "2"], rng.randint(1, 2))
            rows = mk_rows(parts)
            v = snap.snapshot_partition_overwrite(
                spark,
                spark.createDataFrame(rows, "id long, d string, v long"),
                p, "d", keep_snapshots=6, audit=audit,
            )
            state = {
                **{d_: dict(r_) for d_, r_ in model.items()},
            }
            for d in parts:
                state[f"d={d}"] = {r[0]: r[2] for r in rows if r[1] == d}
            return v, state

        def head_version():
            return snap.snapshot_manifest(spark, p)["version"]

        v0, st0 = do_overwrite(audit=False)
        model = st0
        seen_numbers.add(v0)

        def flat(state):
            return {
                (i, leaf.split("=")[1], v)
                for leaf, rows_ in state.items()
                for i, v in rows_.items()
            }

        for _ in range(14):
            op = rng.choice(
                ["commit", "stage", "stage", "publish", "publish", "discard"]
            )
            if op == "commit":
                v, st = do_overwrite(audit=False)
                model = st
                assert v not in seen_numbers, "version number reused"
                seen_numbers.add(v)
            elif op == "stage":
                parent = head_version()
                sv, st = do_overwrite(audit=True)
                assert sv not in seen_numbers, "version number reused"
                seen_numbers.add(sv)
                staged[sv] = (parent, st)
            elif op == "publish" and staged:
                sv = rng.choice(sorted(staged))
                parent, st = staged[sv]
                if parent == head_version():
                    v = snap.snapshot_publish(spark, p, sv, keep_snapshots=6)
                    assert v not in seen_numbers, "version number reused"
                    seen_numbers.add(v)
                    model = st
                    del staged[sv]
                else:
                    try:
                        snap.snapshot_publish(spark, p, sv, keep_snapshots=6)
                        raise AssertionError(
                            "publish of a stale-parent stage must conflict"
                        )
                    except RuntimeError:
                        pass  # staged entry remains in flight
            elif op == "discard" and staged:
                sv = rng.choice(sorted(staged))
                snap.snapshot_discard_staged(spark, p, sv, keep_snapshots=6)
                del staged[sv]
                try:
                    snap.snapshot_read(spark, p, version=sv)
                    raise AssertionError("discarded version still readable")
                except FileNotFoundError:
                    pass
            # invariants after every op
            got = {
                (r["id"], str(r["d"]), r["v"])
                for r in snap.snapshot_read(spark, p).collect()
            }
            assert got == flat(model), f"live != published model (seed {seed})"
            assert set(snap.snapshot_staged(spark, p)) == set(staged)
            for sv, (_, st) in staged.items():
                got_s = {
                    (r["id"], str(r["d"]), r["v"])
                    for r in snap.snapshot_read(spark, p, version=sv).collect()
                }
                assert got_s == flat(st), (
                    f"staged v{sv} drifted under later commits (seed {seed})"
                )


def test_table_stats_and_compaction_planner(spark, tmp_path):
    """snapshot_table_stats reads only metadata and reports real debt;
    plan_compactions flags exactly the partitions over threshold, and
    executing its orders clears the debt (and the plan empties)."""
    p = str(tmp_path / "maint")
    df = spark.range(600).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("d")
    )
    snap.snapshot_partition_overwrite(
        spark, df, p, "d", max_records_per_file=50, keep_snapshots=3
    )
    # pile append debt onto d=1 only
    for start in (600, 700, 800):
        snap.snapshot_append(
            spark,
            spark.range(start, start + 100).select(
                F.col("id").alias("k"), F.lit("1").alias("d")
            ),
            p, "d", max_records_per_file=25, keep_snapshots=3,
        )
    # and merge-on-read debt
    for kmod in (7, 11, 13):
        snap.snapshot_delete_rows(
            spark, p, F.col("k") % 97 == kmod, keys=["k"], keep_snapshots=3
        )
    stats = {s["partition"]: s for s in snap.snapshot_table_stats(spark, p)}
    assert stats["d=1"]["n_data_dirs"] == 4
    assert stats["d=1"]["n_files"] > stats["d=0"]["n_files"] >= 6
    assert stats["d=1"]["n_delete_files"] == 3
    assert stats["d=1"]["bytes"] > 0 and stats["d=1"]["min_file_bytes"] > 0
    orders = snap.plan_compactions(spark, p, max_files=8, max_delete_files=2)
    assert [o["value"] for o in orders] == ["0", "1"] or [
        o["value"] for o in orders
    ] == ["1"]  # d=0 has 6 files at 50 rows/file -> under threshold
    by_val = {o["value"]: o for o in orders}
    assert "delete files" in by_val["1"]["reason"]
    before = snap.snapshot_read(spark, p).count()
    for o in orders:
        snap.snapshot_compact_partition(
            spark, p, o["value"], target_files=o["target_files"], keep_snapshots=3
        )
    assert snap.snapshot_read(spark, p).count() == before
    assert snap.plan_compactions(spark, p, max_files=8, max_delete_files=2) == []


def test_maintain_agg_view_default_prep_first_build(spark, tmp_path):
    """First build (and retention-forced full recompute) with the DEFAULT
    prep=None must work — the incremental path always handled it."""
    src = str(tmp_path / "src")
    vw = str(tmp_path / "vw")
    df = spark.createDataFrame(
        [(i, str(i % 2), float(i)) for i in range(10)],
        "id long, d string, val double",
    )
    snap.snapshot_partition_overwrite(spark, df, src, "d", keep_snapshots=3)
    assert snap.maintain_agg_view(spark, src, vw, ["id"], ["d"], ["val"]) == 1
    got = {
        r["d"]: (r["n"], r["sum_val"])
        for r in snap.snapshot_read(spark, vw).collect()
    }
    assert got == {"0": (5, 20.0), "1": (5, 25.0)}


def test_maintain_agg_view_surfaces_corrupt_view(spark, tmp_path):
    """A view path that EXISTS but cannot be read is a real failure and
    must propagate — only the missing-view cold start may fall back to a
    full build."""
    import pytest

    src = str(tmp_path / "src")
    vw = str(tmp_path / "vw")
    df = spark.createDataFrame([(1, "0", 1.0)], "id long, d string, val double")
    snap.snapshot_partition_overwrite(spark, df, src, "d", keep_snapshots=3)
    os.makedirs(vw)
    with open(os.path.join(vw, "part-00000.parquet"), "w") as fh:
        fh.write("this is not parquet")
    with pytest.raises(Exception):
        snap.maintain_agg_view(spark, src, vw, ["id"], ["d"], ["val"])


def test_empty_snapshot_read_keeps_committed_schema(spark, tmp_path):
    """Deleting every partition must not degrade the read schema: the
    manifest's committed schema (not a one-column stub) shapes the empty
    frame, so unions and view refreshes stay consistent."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "0", 5.0), (2, "1", 6.0)], "id long, d string, val double"
    )
    snap.snapshot_partition_overwrite(spark, df, p, "d", keep_snapshots=3)
    full_schema = snap.snapshot_read(spark, p).schema
    snap.snapshot_delete_partitions(spark, p, ["0", "1"], keep_snapshots=3)
    empty = snap.snapshot_read(spark, p)
    assert empty.count() == 0
    assert set(f.name for f in empty.schema) == set(f.name for f in full_schema)
    # and it unions cleanly with a non-empty historical read
    v1 = snap.snapshot_read(spark, p, version=1)
    assert v1.unionByName(empty.select(*v1.columns)).count() == 2


def test_token_version_parse_past_six_digits():
    """Version numbers grow forever; the dir-token parse must take every
    digit (06d is zero-padding, not a cap) for both data and delete
    tokens."""
    import re

    for v in (7, 999999, 1000000, 123456789):
        data_tok = f"__s{v:06d}_deadbeef__"
        del_tok = f"__s{v:06d}del_deadbeef__"
        for tok in (data_tok, del_tok):
            m = re.search(snap._TOKEN_VERSION_RE, tok)
            assert m and int(m.group(1)) == v, (tok, m and m.group(1))


def test_bucketed_snapshot_spec_contract(spark, tmp_path):
    """bucket_by commits: the spec rides in the manifest and is a table
    property — carried partitions stay joinable shuffle-free after a
    same-spec overwrite, a divergent spec is refused, and the write
    paths that would break the layout (append / MoR delete / MoR upsert
    / coalesce compaction) are refused with the remedy named."""
    import pytest

    p = str(tmp_path / "bt")
    df = spark.createDataFrame(
        [(i, str(i % 3), i * 10) for i in range(60)], "k long, d string, v long"
    )
    v1 = snap.snapshot_partition_overwrite(
        spark, df, p, "d", bucket_by=(4, "k"), keep_snapshots=3
    )
    assert snap.snapshot_manifest(spark, p)["bucket_spec"] == {"n": 4, "col": "k"}

    # same-spec overwrite of ONE partition: carried partitions keep their
    # bucket files; the mounted table still joins shuffle-free
    upd = df.where(F.col("d") == "1").withColumn("v", F.col("v") + 1)
    snap.snapshot_partition_overwrite(
        spark, upd, p, "d", bucket_by=(4, "k"), keep_snapshots=3
    )
    other = str(tmp_path / "bt2")
    snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame([(i, "x", i) for i in range(0, 60, 2)],
                              "k long, e string, w long"),
        other, "e", bucket_by=(4, "k"), keep_snapshots=3,
    )
    names = []
    try:
        a, n1 = snap.snapshot_read_bucketed(spark, p)
        names.append(n1)
        b, n2 = snap.snapshot_read_bucketed(spark, other)
        names.append(n2)
        j = a.hint("merge").join(b, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan
        assert j.count() == 30  # every even k joins once
        # post-overwrite content correct in the mounted read
        assert a.where(F.col("d") == "1").agg(F.sum("v")).first()[0] == sum(
            i * 10 + 1 for i in range(60) if i % 3 == 1
        )
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS `{n}`")

    # divergent spec refused
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        snap.snapshot_partition_overwrite(
            spark, upd, p, "d", bucket_by=(8, "k"), keep_snapshots=3
        )
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        snap.snapshot_partition_overwrite(spark, upd, p, "d", keep_snapshots=3)

    # layout-breaking write paths refused
    with pytest.raises(ValueError, match="bucket-colocated"):
        snap.snapshot_append(spark, upd, p, "d", keep_snapshots=3)
    with pytest.raises(ValueError, match="bucket-colocated"):
        snap.snapshot_delete_rows(
            spark, p, F.col("k") == 1, ["k"], keep_snapshots=3
        )
    with pytest.raises(ValueError, match="bucket-colocated"):
        snap.snapshot_upsert_rows(spark, p, upd, ["k"], keep_snapshots=3)
    with pytest.raises(ValueError, match="bucket-colocated"):
        snap.snapshot_compact_partition(spark, p, "1", keep_snapshots=3)

    # reader refuses a table without a spec
    plain = str(tmp_path / "plain")
    snap.snapshot_partition_overwrite(spark, df, plain, "d", keep_snapshots=3)
    with pytest.raises(ValueError, match="no bucket_spec"):
        snap.snapshot_read_bucketed(spark, plain)

    # time travel composes: v1 mounts with v1's content
    names = []
    try:
        a1, n1 = snap.snapshot_read_bucketed(spark, p, version=v1)
        names.append(n1)
        assert a1.where(F.col("d") == "1").agg(F.sum("v")).first()[0] == sum(
            i * 10 for i in range(60) if i % 3 == 1
        )
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS `{n}`")


def test_partition_spec_evolution_day_to_month(spark, tmp_path):
    """Spec evolution mid-history (day -> month): a metadata-only commit
    switches the spec for NEW writes; old dirs are evaluated under their
    writing spec, so old rows keep their original partition values (no
    NULL re-stamp), `between` pruning is exact within each era and
    stats-driven across it, migration is one atomic retire+rewrite
    commit, and time travel still reads the pre-evolution state."""
    import pytest

    p = str(tmp_path / "evo")
    df1 = spark.createDataFrame(
        [(i, f"2024-01-{(i % 5) + 1:02d}", "2024-01", float(i)) for i in range(20)],
        "k long, d string, ym string, v double",
    )
    v1 = snap.snapshot_partition_overwrite(
        spark, df1, p, "d", stats_cols=["ym"], keep_snapshots=10
    )
    v2 = snap.snapshot_evolve_spec(spark, p, "ym", keep_snapshots=10)
    m = snap.snapshot_manifest(spark, p)
    assert m["partition_col"] == "ym" and m["spec_history"] == ["d", "ym"]
    # old spec name rejected now; same-col evolve rejected
    with pytest.raises(ValueError, match="partitioned by"):
        snap.snapshot_partition_overwrite(spark, df1, p, "d", keep_snapshots=10)
    with pytest.raises(ValueError, match="already partitions"):
        snap.snapshot_evolve_spec(spark, p, "ym")

    df2 = spark.createDataFrame(
        [(100 + i, f"2024-02-{(i % 3) + 1:02d}", "2024-02", float(i) * 2) for i in range(9)],
        "k long, d string, ym string, v double",
    )
    snap.snapshot_partition_overwrite(
        spark, df2, p, "ym", stats_cols=["d"], keep_snapshots=10
    )

    # union read: every row keeps ITS OWN partition value, nothing NULL
    r = snap.snapshot_read(spark, p)
    assert r.count() == 29
    assert r.where(F.col("d").isNull() | F.col("ym").isNull()).count() == 0
    got = {(x["k"], x["d"], x["ym"]) for x in r.collect()}
    want = {(i, f"2024-01-{(i % 5) + 1:02d}", "2024-01") for i in range(20)} | {
        (100 + i, f"2024-02-{(i % 3) + 1:02d}", "2024-02") for i in range(9)
    }
    assert got == want

    # pruning across the boundary: day-range prune keeps only the two
    # matching day dirs (month dirs excluded via their d-stats)
    full_files = len(r.inputFiles())
    pr = snap.snapshot_read(spark, p, between=("d", "2024-01-02", "2024-01-03"))
    assert 0 < len(pr.inputFiles()) < full_files
    assert pr.where(F.col("d").between("2024-01-02", "2024-01-03")).count() == 8
    assert pr.where(F.col("ym") == "2024-02").count() == 0  # pruned away
    # month prune symmetric (day dirs excluded via their ym-stats)
    pr2 = snap.snapshot_read(spark, p, between=("ym", "2024-02", "2024-02"))
    assert pr2.count() == 9 and len(pr2.inputFiles()) < full_files

    # MoR paths refuse across specs
    with pytest.raises(ValueError, match="spans partition specs"):
        snap.snapshot_delete_rows(spark, p, F.col("k") == 1, ["k"])
    with pytest.raises(ValueError, match="spans partition specs"):
        snap.snapshot_upsert_rows(spark, p, df2.limit(1), ["k"])

    # time travel: the pre-evolution version still reads day-era only
    assert snap.snapshot_read(spark, p, version=v1).count() == 20
    assert "d" in {f.name for f in snap.snapshot_read(spark, p, version=v1).schema}

    # MIGRATION: rewrite the day era under the month spec and retire the
    # day dirs in ONE commit; the read is single-spec again, row-identical
    old_rows = snap.snapshot_read(spark, p, version=v1)
    day_leaves = sorted(snap.snapshot_manifest(spark, p, version=v1)["partitions"])
    snap.snapshot_partition_overwrite(
        spark,
        old_rows.select("k", "d", "ym", "v"),
        p,
        "ym",
        stats_cols=["d"],
        keep_snapshots=10,
        retire_leaves=day_leaves,
    )
    r2 = snap.snapshot_read(spark, p)
    assert {(x["k"], x["d"], x["ym"]) for x in r2.collect()} == want
    assert {leaf.split("=", 1)[0] for leaf in snap.snapshot_manifest(spark, p)["partitions"]} == {"ym"}
    # the 2024-02 era carried over untouched through the migration commit
    assert r2.where(F.col("ym") == "2024-02").count() == 9


def test_spec_evolution_read_between_before_first_new_spec_write(
    spark, tmp_path
):
    """The metadata-only-evolve window: after snapshot_evolve_spec but
    BEFORE any new-spec write, every leaf still carries the OLD partition
    column while the manifest's partition_col is the NEW one. A `between`
    on the new column must NOT exact-prune old-era leaf values against
    the new column's domain (d=2024-01-05 vs ym bounds would prune every
    leaf — silent row loss); the spec column is the leaves' actual
    prefix, so the read falls to stats pruning (exact with recorded
    stats, conservative keep without)."""
    # with ym stats recorded: the probe is still exact via stats
    p = str(tmp_path / "evo_window")
    df1 = spark.createDataFrame(
        [(i, f"2024-01-{(i % 5) + 1:02d}", "2024-01", float(i)) for i in range(20)],
        "k long, d string, ym string, v double",
    )
    snap.snapshot_partition_overwrite(
        spark, df1, p, "d", stats_cols=["ym"], keep_snapshots=10
    )
    snap.snapshot_evolve_spec(spark, p, "ym", keep_snapshots=10)
    r = snap.snapshot_read(spark, p, between=("ym", "2024-01", "2024-01"))
    assert r.count() == 20  # was 0 before the fix
    # a genuinely-disjoint range still prunes (stats are exact here)
    r_miss = snap.snapshot_read(spark, p, between=("ym", "2024-03", "2024-03"))
    assert r_miss.count() == 0 and len(r_miss.inputFiles()) == 0
    # between on the leaves' own column stays exact value pruning
    r_day = snap.snapshot_read(
        spark, p, between=("d", "2024-01-02", "2024-01-02")
    )
    assert r_day.count() == 4
    assert 0 < len(r_day.inputFiles()) < 20

    # without stats for the new column: conservative keep, zero row loss
    p2 = str(tmp_path / "evo_window_nostats")
    snap.snapshot_partition_overwrite(spark, df1, p2, "d", keep_snapshots=10)
    snap.snapshot_evolve_spec(spark, p2, "ym", keep_snapshots=10)
    r2 = snap.snapshot_read(spark, p2, between=("ym", "2024-01", "2024-01"))
    assert r2.count() == 20


def test_join_view_ivm_random_commit_sequences(spark, tmp_path):
    """Model test for the fact⋈dim join-view IVM: across a seeded random
    sequence of fact rewrites (deletes / measure updates / key-migrating
    updates / inserts) and dim rewrites (attribute flips / deletes /
    births), the maintained view must equal a full recomputation after
    EVERY maintenance call — the incremental path is exercised for
    fact-only, dim-only, and simultaneous deltas."""
    import random

    rng = random.Random(1234)
    fp, dp, vp = str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "v")

    fact_rows = {i: (i, i % 11, str(i % 4), float(i % 97)) for i in range(300)}
    dim_rows = {i: (i, f"s{i % 5}") for i in range(11)}

    def fact_df():
        return spark.createDataFrame(
            sorted(fact_rows.values()), "fk long, ck long, p string, v double"
        )

    def dim_df():
        return spark.createDataFrame(
            [(k, s, "d") for k, s in sorted(dim_rows.values())],
            "ck long, seg string, dp string",
        )

    def prep_f(df):
        return df.withColumn("val", F.col("v").cast("decimal(18,6)"))

    snap.snapshot_partition_overwrite(spark, fact_df(), fp, "p", keep_snapshots=30)
    snap.snapshot_partition_overwrite(spark, dim_df(), dp, "dp", keep_snapshots=30)

    def maintain():
        return snap.maintain_join_view(
            spark, fp, dp, vp, ["fk"], ["ck"], ["ck"], ["seg"], ["val"],
            prep_fact=prep_f,
        )

    def recompute():
        f = prep_f(snap.snapshot_read(spark, fp))
        d = snap.snapshot_read(spark, dp)
        return sorted(
            map(
                tuple,
                f.join(d, "ck")
                .groupBy("seg")
                .agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("val").alias("sum_val"),
                )
                .collect(),
            )
        )

    def view_rows():
        return sorted(
            map(
                tuple,
                snap.snapshot_read(spark, vp)
                .drop("_fact_version", "_dim_version")
                .collect(),
            )
        )

    def mutate_fact():
        parts = sorted({r[2] for r in fact_rows.values()})
        p = rng.choice(parts)
        in_p = [k for k, r in fact_rows.items() if r[2] == p]
        for k in in_p:
            roll = rng.random()
            if roll < 0.15:
                del fact_rows[k]
            elif roll < 0.35:
                fk, ck, _, v = fact_rows[k]
                fact_rows[k] = (fk, ck, p, v + rng.randint(1, 50))
            elif roll < 0.45:
                fk, _, _, v = fact_rows[k]
                fact_rows[k] = (fk, rng.randrange(11), p, v)
        for _ in range(rng.randint(0, 4)):
            nk = max(fact_rows, default=0) + rng.randint(1, 9)
            fact_rows[nk] = (nk, rng.randrange(11), p, float(rng.randint(0, 96)))
        rewritten = [r for r in fact_rows.values() if r[2] == p]
        df = spark.createDataFrame(
            sorted(rewritten) or [(None, None, p, None)],
            "fk long, ck long, p string, v double",
        )
        if not rewritten:
            snap.snapshot_delete_partitions(spark, fp, [p], keep_snapshots=30)
        else:
            snap.snapshot_partition_overwrite(spark, df, fp, "p", keep_snapshots=30)

    def mutate_dim():
        for k in list(dim_rows):
            roll = rng.random()
            if roll < 0.1 and len(dim_rows) > 2:
                del dim_rows[k]
            elif roll < 0.4:
                dim_rows[k] = (k, f"s{rng.randrange(5)}")
        if rng.random() < 0.5:
            nk = max(dim_rows) + 1
            dim_rows[nk] = (nk, f"s{rng.randrange(5)}")
        snap.snapshot_partition_overwrite(spark, dim_df(), dp, "dp", keep_snapshots=30)

    maintain()
    assert view_rows() == recompute()
    for step in range(8):
        which = rng.random()
        if which < 0.4:
            mutate_fact()
        elif which < 0.7:
            mutate_dim()
        else:
            mutate_fact()
            mutate_dim()
        maintain()
        assert view_rows() == recompute(), f"divergence at step {step}"


def test_maintain_view_degrades_across_spec_evolution(spark, tmp_path):
    """A partition-spec evolution between a view's base version and the
    live head makes the change feed unspannable; the maintainers must
    degrade to ONE full rebuild (not crash) and resume incrementally
    afterwards."""
    src = str(tmp_path / "src")
    vw = str(tmp_path / "vw")
    df1 = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}", "2024-01", float(i)) for i in range(12)],
        "k long, d string, ym string, v double",
    )
    snap.snapshot_partition_overwrite(spark, df1, src, "d", keep_snapshots=10)

    def prep(df):
        return df.withColumn("val", F.col("v").cast("decimal(18,6)"))

    def recompute():
        return sorted(
            map(tuple,
                prep(snap.snapshot_read(spark, src)).groupBy("ym").agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("val").alias("sum_val"),
                ).collect())
        )

    def view_rows():
        return sorted(
            map(tuple,
                snap.snapshot_read(spark, vw).drop("_src_version").collect())
        )

    assert snap.maintain_agg_view(spark, src, vw, ["k"], ["ym"], ["val"], prep=prep) == 1
    assert view_rows() == recompute()

    # evolve day -> month, land a month-era commit, maintain: must not
    # raise, must match a recompute (full-rebuild degradation)
    snap.snapshot_evolve_spec(spark, src, "ym", keep_snapshots=10)
    df2 = spark.createDataFrame(
        [(100 + i, f"2024-02-0{(i % 2) + 1}", "2024-02", float(i) * 3) for i in range(6)],
        "k long, d string, ym string, v double",
    )
    snap.snapshot_partition_overwrite(spark, df2, src, "ym", keep_snapshots=10)
    v = snap.maintain_agg_view(spark, src, vw, ["k"], ["ym"], ["val"], prep=prep)
    assert v == 3
    assert view_rows() == recompute()

    # post-evolution commits refresh incrementally again (same-spec diff)
    df3 = df2.withColumn("v", F.col("v") + 1)
    snap.snapshot_partition_overwrite(spark, df3, src, "ym", keep_snapshots=10)
    assert snap.maintain_agg_view(spark, src, vw, ["k"], ["ym"], ["val"], prep=prep) == 4
    assert view_rows() == recompute()


def test_column_rename_evolution(spark, tmp_path):
    """Rename a column in one metadata commit: historical dirs resolve
    under the names they store (dir-token versions), chained renames
    work era by era, CDC across the rename never fabricates updates,
    compaction physically migrates a partition to current names, view
    maintenance keeps working, and the refusal matrix holds."""
    import pytest

    p = str(tmp_path / "rn")
    df1 = spark.createDataFrame(
        [(i, str(i % 2), float(i)) for i in range(10)],
        "k long, d string, amount double",
    )
    snap.snapshot_partition_overwrite(spark, df1, p, "d", keep_snapshots=20)
    v_ren = snap.snapshot_rename_column(spark, p, "amount", "value")
    # read: old dirs' values surface under the NEW name, nothing NULL
    r = snap.snapshot_read(spark, p)
    assert set(r.columns) == {"k", "d", "value"}
    assert r.where(F.col("value").isNull()).count() == 0
    assert r.agg(F.sum("value")).first()[0] == sum(range(10))

    # a rename alone produces NO change rows
    import pytest as _pt

    with _pt.raises(ValueError, match="no partition changed"):
        snap.snapshot_changes(spark, p, v_ren - 1, v_ren, ["k"])

    # era 2: write under the new name; mixed-era read is seamless
    df2 = spark.createDataFrame(
        [(100 + i, str(i % 2), float(i) * 10) for i in range(4)],
        "k long, d string, value double",
    )
    snap.snapshot_partition_overwrite(spark, df2, p, "d", keep_snapshots=20)
    # the overwrite REPLACED both partitions (df2 covers d=0,1) — rebuild
    # a mixed-era layout: v1-era dir for d=0 is gone, so recreate with a
    # fresh table where only d=1 is rewritten
    p2 = str(tmp_path / "rn2")
    snap.snapshot_partition_overwrite(spark, df1, p2, "d", keep_snapshots=20)
    snap.snapshot_rename_column(spark, p2, "amount", "value")
    upd = spark.createDataFrame(
        [(100, "1", 1000.0), (3, "1", 33.0)], "k long, d string, value double"
    )
    v3 = snap.snapshot_partition_overwrite(spark, upd, p2, "d", keep_snapshots=20)
    mixed = snap.snapshot_read(spark, p2)
    got = {(x["k"], x["value"]) for x in mixed.collect()}
    want = {(i, float(i)) for i in range(10) if i % 2 == 0} | {(100, 1000.0), (3, 33.0)}
    assert got == want

    # CDC across the rename: only d=1's real changes surface, under the
    # new name (old era read under stored name 'amount', aliased)
    ch = snap.snapshot_changes(spark, p2, v3 - 1, v3, ["k"], preimages=True)
    rows = {(x["k"], x["_change"], x["value"]) for x in ch.collect()}
    assert (3, "update_preimage", 3.0) in rows
    assert (3, "update_postimage", 33.0) in rows
    assert (100, "insert", 1000.0) in rows
    # deletes of the unrewritten-era rows (1,5,7,9 in d=1)
    assert (5, "delete", 5.0) in rows
    assert all(k not in {0, 2, 4, 6, 8} for k, _, _ in rows)  # d=0 untouched

    # chained rename value -> v2: both eras resolve through the chain
    snap.snapshot_rename_column(spark, p2, "value", "v2")
    r2 = snap.snapshot_read(spark, p2)
    assert {(x["k"], x["v2"]) for x in r2.collect()} == want

    # compaction physically migrates a partition to current names
    snap.snapshot_compact_partition(spark, p2, "0", keep_snapshots=20)
    files = [
        f for f in snap.snapshot_read(spark, p2).inputFiles() if "d=0" in f
    ]
    raw = spark.read.parquet(*files)
    assert "v2" in raw.columns and "amount" not in raw.columns
    assert {(x["k"], x["v2"]) for x in snap.snapshot_read(spark, p2).collect()} == want

    # view maintenance keeps working across a rename (degrades or
    # refreshes, always correct)
    vw = str(tmp_path / "rn_vw")
    def prep(df):
        return df.withColumn("m", F.col("v2").cast("decimal(18,6)"))
    snap.maintain_agg_view(spark, p2, vw, ["k"], ["d"], ["m"], prep=prep)
    got_view = {
        (x["d"], x["n"], float(x["sum_m"]))
        for x in snap.snapshot_read(spark, vw).drop("_src_version").collect()
    }
    exp = {}
    for k, v in want:
        dd = "1" if k in (100, 3) else "0"
        n, sm = exp.get(dd, (0, 0.0))
        exp[dd] = (n + 1, sm + v)
    assert got_view == {(d, n, sm) for d, (n, sm) in exp.items()}

    # refusal matrix
    with pytest.raises(ValueError, match="already exists"):
        snap.snapshot_rename_column(spark, p2, "k", "v2")
    with pytest.raises(ValueError, match="spec evolution"):
        snap.snapshot_rename_column(spark, p2, "d", "day")
    with pytest.raises(ValueError, match="no column"):
        snap.snapshot_rename_column(spark, p2, "ghost", "g2")


def test_column_drop_and_readd_null_semantics(spark, tmp_path):
    """Dropping a column is metadata-only and has field-id semantics: the
    column vanishes from reads, and if a SAME-NAMED column is added
    later, pre-drop dirs read it as NULL (tombstone resolution) instead
    of resurfacing the dead values — while post-add dirs carry the new
    values."""
    import pytest

    p = str(tmp_path / "dr")
    df1 = spark.createDataFrame(
        [(i, str(i % 2), float(i), i * 100) for i in range(8)],
        "k long, d string, v double, secret long",
    )
    snap.snapshot_partition_overwrite(spark, df1, p, "d", keep_snapshots=20)
    snap.snapshot_drop_column(spark, p, "secret")
    r = snap.snapshot_read(spark, p)
    assert "secret" not in r.columns
    assert r.count() == 8

    # re-add the name with NEW values in a rewritten partition; the
    # carried pre-drop partition must read NULL, never the dead values
    df2 = spark.createDataFrame(
        [(100, "1", 9.0, 7)], "k long, d string, v double, secret long"
    )
    snap.snapshot_partition_overwrite(spark, df2, p, "d", keep_snapshots=20)
    r2 = snap.snapshot_read(spark, p)
    vals = {(x["k"], x["secret"]) for x in r2.collect()}
    assert (100, 7) in vals
    assert all(s is None for k, s in vals if k != 100), vals
    # pre-drop era (d=0 carried) reads NULL, not i*100
    assert (0, None) in vals and (2, None) in vals

    # refusals
    with pytest.raises(ValueError, match="partition column"):
        snap.snapshot_drop_column(spark, p, "d")
    with pytest.raises(ValueError, match="no column"):
        snap.snapshot_drop_column(spark, p, "ghost")


def test_rename_follows_delete_keys(spark, tmp_path):
    """Renaming a column that is part of the table's established MoR
    delete-key set updates the recorded delete_keys (no delete files are
    pending — the rename refuses otherwise), so later MoR deletes under
    the new name keep working end to end."""
    p = str(tmp_path / "rk")
    df = spark.createDataFrame(
        [(i, str(i % 2), float(i)) for i in range(10)],
        "k long, d string, v double",
    )
    snap.snapshot_partition_overwrite(spark, df, p, "d", keep_snapshots=10)
    # establish the delete-key set, then COMPACT the debt away
    snap.snapshot_delete_rows(spark, p, F.col("k") == 0, ["k"], keep_snapshots=10)
    for val in ("0", "1"):
        snap.snapshot_compact_partition(spark, p, val, keep_snapshots=10)
    assert not any(snap.snapshot_manifest(spark, p).get("deletes", {}).values())

    snap.snapshot_rename_column(spark, p, "k", "key")
    assert snap.snapshot_manifest(spark, p)["delete_keys"] == ["key"]
    # MoR delete under the NEW key name works
    snap.snapshot_delete_rows(spark, p, F.col("key") == 5, ["key"], keep_snapshots=10)
    left = {r["key"] for r in snap.snapshot_read(spark, p).collect()}
    assert left == {1, 2, 3, 4, 6, 7, 8, 9}


def test_rename_composes_with_file_pruning_tiers(spark, tmp_path):
    """between/point pruning hands _era_scan FILE paths (not dir paths);
    the era resolution must still parse the commit version from the
    token component, so a rename composes with z-order file skipping and
    bloom point lookups on an UNRENAMED column."""
    p = str(tmp_path / "rnp")
    df = spark.createDataFrame(
        [(i, "a", float(i), i * 7) for i in range(64)],
        "k long, d string, v double, probe long",
    )
    snap.snapshot_partition_overwrite(
        spark, df, p, "d",
        zorder_cols=["k"], stats_cols=["k"], file_stats=True,
        bloom_cols=["probe"], max_records_per_file=8, keep_snapshots=10,
    )
    snap.snapshot_rename_column(spark, p, "v", "value")

    full = snap.snapshot_read(spark, p)
    assert full.agg(F.sum("value")).first()[0] == float(sum(range(64)))

    # file-level range pruning composes with the rename-era alias
    pr = snap.snapshot_read(spark, p, between=("k", 3, 5))
    assert 0 < len(pr.inputFiles()) < len(full.inputFiles())
    assert pr.where(F.col("k").between(3, 5)).agg(F.sum("value")).first()[0] == 12.0

    # bloom point lookup likewise
    pp = snap.snapshot_read(spark, p, point=("probe", 21))
    assert 0 < len(pp.inputFiles()) < len(full.inputFiles())
    assert pp.where(F.col("probe") == 21).select("value").first()[0] == 3.0


def test_mor_sequencing_survives_token_looking_table_path(spark, tmp_path):
    """A table rooted under a path that itself matches the token pattern
    must not corrupt merge-on-read sequencing (versions are parsed from
    the file's parent component only)."""
    p = str(tmp_path / "__s999999_deadbeef__" / "t")
    df = spark.createDataFrame(
        [(i, str(i % 2), float(i)) for i in range(10)],
        "k long, d string, v double",
    )
    snap.snapshot_partition_overwrite(spark, df, p, "d", keep_snapshots=10)
    snap.snapshot_delete_rows(spark, p, F.col("k") < 3, ["k"], keep_snapshots=10)
    # re-append key 1 AFTER the delete: sequence semantics must revive it
    snap.snapshot_append(
        spark,
        spark.createDataFrame([(1, "1", 99.0)], "k long, d string, v double"),
        p, "d", keep_snapshots=10,
    )
    got = {(r["k"], r["v"]) for r in snap.snapshot_read(spark, p).collect()}
    assert got == {(1, 99.0)} | {(i, float(i)) for i in range(3, 10)}


def test_widen_column_era_reads_and_relaxation(spark, tmp_path):
    """Type widening (int -> long) as a metadata-only commit: narrow-era
    files read at their written width and cast up, the committed schema
    reports the wide type, post-widen appends store wide physically,
    NARROW batches are relaxed (cast up) on write, stats pruning keeps
    working across the widen, and time travel still reads the pre-widen
    type."""
    import pytest

    p = str(tmp_path / "w")
    df1 = spark.createDataFrame(
        [(i, i * 10, "a" if i < 10 else "b") for i in range(20)],
        "k long, v int, p string",
    )
    v1 = snap.snapshot_partition_overwrite(
        spark, df1, p, "p", stats_cols=["v"], keep_snapshots=10
    )
    wv = snap.snapshot_widen_column(spark, p, "v", "long", keep_snapshots=10)
    assert wv == v1 + 1

    # metadata-only: schema reports long, every old value intact
    r = snap.snapshot_read(spark, p)
    assert dict(r.dtypes)["v"] == "bigint"
    assert r.count() == 20
    assert r.agg(F.sum("v")).first()[0] == sum(i * 10 for i in range(20))

    # post-widen append: values beyond int range land and read back
    big = spark.createDataFrame(
        [(100, 5_000_000_000, "a")], "k long, v long, p string"
    )
    snap.snapshot_append(spark, big, p, "p", keep_snapshots=10)
    r2 = snap.snapshot_read(spark, p)
    assert r2.where(F.col("v") == 5_000_000_000).count() == 1
    assert r2.count() == 21

    # NARROW batch relaxation (the reference's ALLOW_FIELD_RELAXATION):
    # an int batch appends cleanly, stored wide
    narrow = spark.createDataFrame([(101, 7, "b")], "k long, v int, p string")
    snap.snapshot_append(spark, narrow, p, "p", keep_snapshots=10)
    r3 = snap.snapshot_read(spark, p)
    assert dict(r3.dtypes)["v"] == "bigint"
    assert r3.count() == 22 and r3.where(F.col("k") == 101).first()["v"] == 7

    # stats pruning survives the widen: the recorded int bounds are
    # exact at long, so a between() on v still prunes partition b
    pr = snap.snapshot_read(spark, p, between=("v", 0, 50))
    assert pr.where(F.col("v") <= 50).count() == 7  # 0,10,20,30,40 + k=101(7)... guard below
    # time travel: pre-widen version still reads int
    old = snap.snapshot_read(spark, p, version=v1)
    assert dict(old.dtypes)["v"] == "int" and old.count() == 20

    # a WIDER batch without an explicit widen is refused (pre-stage, with
    # the pointer to snapshot_widen_column — not the generic type error)
    pw = str(tmp_path / "w2")
    snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame([(1, 5, "a")], "k long, v int, p string"),
        pw, "p", keep_snapshots=10,
    )
    wide = spark.createDataFrame(
        [(102, 5_000_000_000, "b")], "k long, v long, p string"
    )
    with pytest.raises(ValueError, match="wider"):
        snap.snapshot_append(spark, wide, pw, "p", keep_snapshots=10)
    with pytest.raises(ValueError, match="wider"):
        snap.snapshot_partition_overwrite(spark, wide, pw, "p", keep_snapshots=10)


def test_widen_column_refusal_matrix(spark, tmp_path):
    """Narrowing, cross-family, partition-column, bucket, and delete-key
    widens are all refused; float->double and decimal precision growth
    are allowed."""
    import pytest

    p = str(tmp_path / "wr")
    df = spark.createDataFrame(
        [(i, float(i), i * 100, "x") for i in range(8)],
        "k long, f float, v int, p string",
    )
    snap.snapshot_partition_overwrite(spark, df, p, "p", keep_snapshots=10)
    for col, bad in [("v", "integer"), ("v", "short"), ("v", "string"),
                     ("f", "integer"), ("k", "integer")]:
        with pytest.raises(ValueError, match="not a widening"):
            snap.snapshot_widen_column(spark, p, col, bad)
    with pytest.raises(ValueError, match="no column"):
        snap.snapshot_widen_column(spark, p, "zz", "long")
    with pytest.raises(ValueError, match="partition column"):
        snap.snapshot_widen_column(spark, p, "p", "string")
    # float -> double allowed, values exactly preserved
    snap.snapshot_widen_column(spark, p, "f", "double", keep_snapshots=10)
    r = snap.snapshot_read(spark, p)
    assert dict(r.dtypes)["f"] == "double"
    assert {x["f"] for x in r.collect()} == {float(i) for i in range(8)}

    # bucketed table refuses
    pb = str(tmp_path / "wb")
    snap.snapshot_partition_overwrite(
        spark, df, pb, "p", bucket_by=(4, "k"), keep_snapshots=10
    )
    with pytest.raises(ValueError, match="bucket"):
        snap.snapshot_widen_column(spark, pb, "v", "long")

    # delete-key column refuses (delete files store keys at writing width)
    pk2 = str(tmp_path / "wk2")
    df2 = spark.createDataFrame(
        [(i, i * 100, "x") for i in range(8)], "k int, v int, p string"
    )
    snap.snapshot_partition_overwrite(spark, df2, pk2, "p", keep_snapshots=10)
    snap.snapshot_delete_rows(spark, pk2, F.col("k") == 1, ["k"], keep_snapshots=10)
    with pytest.raises(ValueError, match="delete_keys"):
        snap.snapshot_widen_column(spark, pk2, "k", "long")
    # decimal precision growth allowed; scale change refused
    pd_ = str(tmp_path / "wd")
    dfd = spark.createDataFrame(
        [(1, "x")], "k long, p string"
    ).withColumn("m", F.lit("1.25").cast("decimal(10,2)"))
    snap.snapshot_partition_overwrite(spark, dfd, pd_, "p", keep_snapshots=10)
    with pytest.raises(ValueError, match="not a widening"):
        snap.snapshot_widen_column(spark, pd_, "m", "decimal(12,4)")
    snap.snapshot_widen_column(spark, pd_, "m", "decimal(20,2)", keep_snapshots=10)
    got = snap.snapshot_read(spark, pd_).first()["m"]
    assert str(got) == "1.25"


def test_widen_compose_with_rename_and_cdc(spark, tmp_path):
    """Widen composes with rename across eras (widen under the old name,
    then rename: old dirs resolve narrow type AND old name) and with the
    CDC feed spanning the widen commit (a widen alone yields no feed
    rows; a post-widen data commit diffs under the TO-version schema)."""
    import pytest

    p = str(tmp_path / "wc")
    df1 = spark.createDataFrame(
        [(i, i * 2, "a") for i in range(10)], "k long, v int, p string"
    )
    v1 = snap.snapshot_partition_overwrite(spark, df1, p, "p", keep_snapshots=10)
    v2 = snap.snapshot_widen_column(spark, p, "v", "long", keep_snapshots=10)
    v3 = snap.snapshot_rename_column(spark, p, "v", "val", keep_snapshots=10)
    r = snap.snapshot_read(spark, p)
    assert dict(r.dtypes)["val"] == "bigint"
    assert r.agg(F.sum("val")).first()[0] == sum(i * 2 for i in range(10))

    # a widen alone produces NO change-feed rows
    with pytest.raises(ValueError, match="no partition changed"):
        snap.snapshot_changes(spark, p, v1, v2, keys=["k"])

    # feed spanning widen+rename: both sides under TO-version names/types
    df2 = spark.createDataFrame(
        [(i, int(i * 2 + (1 if i == 3 else 0)), "a") for i in range(10)],
        "k long, val int, p string",  # narrow batch: relaxed on write
    )
    v4 = snap.snapshot_partition_overwrite(spark, df2, p, "p", keep_snapshots=10)
    feed = snap.snapshot_changes(spark, p, v1, v4, keys=["k"])
    rows = {(x["k"], x["_change"]): x["val"] for x in feed.collect()}
    assert rows == {(3, "update"): 7}

    # compaction migrates the partition physically to the current
    # (widened, renamed) schema: one data dir, values unchanged, and the
    # rewritten files store wide — a subsequent read needs no era cast
    snap.snapshot_compact_partition(spark, p, "a", keep_snapshots=10)
    rc = snap.snapshot_read(spark, p)
    assert dict(rc.dtypes)["val"] == "bigint"
    assert rc.agg(F.sum("val")).first()[0] == sum(i * 2 for i in range(10)) + 1
    m = snap.snapshot_manifest(spark, p)
    assert len(m["partitions"]) == 1


def test_segmented_manifests_share_and_vacuum(spark, tmp_path, monkeypatch):
    """Past the inline threshold, manifests spill their leaf-keyed maps
    into content-addressed SEGMENT files (the manifest-list split): read
    semantics are unchanged (full read, time travel, between-pruning), a
    commit touching one leaf REUSES every untouched segment (only the
    touched one gets a new file), and vacuum sweeps exactly the segments
    no retained manifest references."""
    import json as _json

    monkeypatch.setattr(snap, "_SEGMENT_INLINE_MAX", 8)
    monkeypatch.setattr(snap, "_SEGMENT_TARGET_LEAVES", 4)
    p = str(tmp_path / "seg")
    df1 = spark.createDataFrame(
        [(i, i * 10, str(i % 24)) for i in range(240)],
        "k long, v long, p string",
    )
    v1 = snap.snapshot_partition_overwrite(
        spark, df1, p, "p", stats_cols=["v"], keep_snapshots=2
    )

    def raw(v):
        return _json.loads(
            open(f"{p}/__snap__/m{v:06d}.json", encoding="utf-8").read()
        )

    def seg_files():
        import os

        return {
            f for f in os.listdir(f"{p}/__snap__") if f.startswith("seg_")
        }

    r1 = raw(v1)
    assert "segments" in r1 and "partitions" not in r1
    assert len(r1["segments"]) == 8  # 24 leaves / target 4 -> next pow2
    # reassembled read identical to plain semantics
    m = snap.snapshot_manifest(spark, p)
    assert len(m["partitions"]) == 24
    r = snap.snapshot_read(spark, p)
    assert r.count() == 240
    assert r.agg(F.sum("v")).first()[0] == sum(i * 10 for i in range(240))

    # commit touching ONE leaf: every untouched segment hash carries over
    df2 = spark.createDataFrame([(1000, 7, "3")], "k long, v long, p string")
    v2 = snap.snapshot_partition_overwrite(
        spark, df2, p, "p", stats_cols=["v"], keep_snapshots=2
    )
    r2 = raw(v2)
    shared = set(r1["segments"]) & set(r2["segments"])
    assert len(shared) >= len(r1["segments"]) - 1
    assert set(r2["segments"]) - set(r1["segments"])  # the touched one
    # both versions readable; time travel intact
    assert snap.snapshot_read(spark, p, version=v1).count() == 240
    live = snap.snapshot_read(spark, p)
    assert live.where(F.col("p") == "3").count() == 1
    assert live.count() == 240 - 10 + 1
    # between-pruning still works off the segmented stats
    pr = snap.snapshot_read(spark, p, between=("v", 7, 7))
    assert 0 < len(pr.inputFiles()) < len(live.inputFiles())
    assert pr.where(F.col("v") == 7).count() == 1

    # retention: dropping v1 (keep=2 -> commit twice more) sweeps v1's
    # exclusive segments but keeps every still-referenced one
    before = seg_files()
    v3 = snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame([(2000, 9, "5")], "k long, v long, p string"),
        p, "p", stats_cols=["v"], keep_snapshots=2,
    )
    v4 = snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame([(3000, 11, "7")], "k long, v long, p string"),
        p, "p", stats_cols=["v"], keep_snapshots=2,
    )
    after = seg_files()
    live_refs = {
        f"seg_{h}.json" for v in (v3, v4) for h in raw(v)["segments"]
    }
    assert after == live_refs
    assert before - after  # something was actually swept
    r_final = snap.snapshot_read(spark, p)
    assert r_final.count() == 240 - 30 + 3


def test_segmented_manifests_compose_with_wap_restore_tags_cdc(
    spark, tmp_path, monkeypatch
):
    """The segment spill is invisible to every manifest consumer: staged
    write-audit-publish commits spill and publish correctly (a discarded
    audit's exclusive segments are swept, a published one re-references
    them), RESTORE re-spills to the SAME content hashes (zero new
    segment files), tags pin segments against retention, and the CDC
    feed diffs two segmented versions exactly."""
    import json as _json
    import os

    monkeypatch.setattr(snap, "_SEGMENT_INLINE_MAX", 8)
    monkeypatch.setattr(snap, "_SEGMENT_TARGET_LEAVES", 4)
    p = str(tmp_path / "segc")
    df1 = spark.createDataFrame(
        [(i, i * 10, str(i % 20)) for i in range(200)],
        "k long, v long, p string",
    )
    v1 = snap.snapshot_partition_overwrite(spark, df1, p, "p", keep_snapshots=4)
    snap.snapshot_tag(spark, p, "base", version=v1)

    def raw(v):
        return _json.loads(open(f"{p}/__snap__/m{v:06d}.json").read())

    def seg_files():
        return {f for f in os.listdir(f"{p}/__snap__") if f.startswith("seg_")}

    # WAP: stage a one-leaf rewrite, audit fails -> discard; then stage
    # again and publish
    bad = spark.createDataFrame([(9999, -1, "3")], "k long, v long, p string")
    sv = snap.snapshot_partition_overwrite(
        spark, bad, p, "p", keep_snapshots=4, audit=True
    )
    assert "segments" in raw(sv)
    snap.snapshot_discard_staged(spark, p, sv, keep_snapshots=4)
    good = spark.createDataFrame([(5000, 77, "3")], "k long, v long, p string")
    sv2 = snap.snapshot_partition_overwrite(
        spark, good, p, "p", keep_snapshots=4, audit=True
    )
    v2 = snap.snapshot_publish(spark, p, sv2, keep_snapshots=4)
    live = snap.snapshot_read(spark, p)
    assert live.where(F.col("k") == 5000).count() == 1
    assert live.where(F.col("k") == 9999).count() == 0
    assert live.count() == 200 - 10 + 1

    # CDC across two segmented versions: exactly the rewritten leaf diffs
    feed = snap.snapshot_changes(spark, p, v1, v2, keys=["k"])
    changes = {(r["k"], r["_change"]) for r in feed.collect()}
    assert (5000, "insert") in changes
    assert all(c in ("insert", "delete", "update") for _, c in changes)
    assert {k for k, c in changes if c == "delete"} == {
        i for i in range(200) if i % 20 == 3
    }

    # RESTORE the tagged base: re-spill reuses the same content hashes —
    # no new segment files appear
    before = seg_files()
    v3 = snap.snapshot_restore(spark, p, v1, keep_snapshots=4)
    assert seg_files() == before
    assert set(raw(v3)["segments"]) == set(raw(v1)["segments"])
    assert snap.snapshot_read(spark, p).count() == 200

    # retention churn: the tag pins v1's segments through unrelated commits
    for i in range(4):
        snap.snapshot_partition_overwrite(
            spark,
            spark.createDataFrame(
                [(6000 + i, i, str(i % 20))], "k long, v long, p string"
            ),
            p, "p", keep_snapshots=2,
        )
    assert snap.snapshot_read(spark, p, tag="base").count() == 200
    for h in raw(v1)["segments"]:
        assert f"seg_{h}.json" in seg_files()


def test_remove_orphans_covers_all_spec_eras(spark, tmp_path):
    """The full orphan sweep lists EVERY spec era's leaves: an orphan
    strand in an old-era (day) leaf of a spec-evolved (month) table is
    deleted, while live dirs of both eras survive."""
    import os

    p = str(tmp_path / "evoorph")
    df1 = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}", "2024-01") for i in range(12)],
        "k long, d string, ym string",
    )
    snap.snapshot_partition_overwrite(spark, df1, p, "d", keep_snapshots=5)
    snap.snapshot_evolve_spec(spark, p, "ym", keep_snapshots=5)
    df2 = spark.createDataFrame(
        [(100 + i, f"2024-02-{(i % 2) + 1:02d}", "2024-02") for i in range(6)],
        "k long, d string, ym string",
    )
    snap.snapshot_partition_overwrite(spark, df2, p, "ym", keep_snapshots=5)

    # plant a crashed-writer strand inside an OLD-era leaf
    strand = f"{p}/d=2024-01-01/__s000099_deadbeef__"
    os.makedirs(strand)
    open(f"{strand}/part-orphan.parquet", "w").write("x")
    snap.snapshot_remove_orphans(spark, p, keep_snapshots=5)
    assert not os.path.isdir(strand)
    r = snap.snapshot_read(spark, p)
    assert r.count() == 18  # both eras intact


def test_disjoint_concurrent_writers_compose_segmented(
    spark, tmp_path, monkeypatch
):
    """The disjoint-writers law under SEGMENTED manifests: racing commits
    serialize on the table lock, each re-spills against the state it
    read, content-addressed segment writes from both writers are benign
    (identical content -> identical file), and the final snapshot carries
    both updates with a consistent segment set."""
    import json as _json

    monkeypatch.setattr(snap, "_SEGMENT_INLINE_MAX", 2)
    monkeypatch.setattr(snap, "_SEGMENT_TARGET_LEAVES", 2)
    p = str(tmp_path / "twoseg")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(20)), p, "d", keep_snapshots=10
    )
    errors: list[Exception] = []

    def writer(part: str, mult: int):
        try:
            upd = (
                _df(spark, range(20))
                .where(F.col("d") == part)
                .withColumn("id", F.col("id") * mult)
            )
            snap.snapshot_partition_overwrite(spark, upd, p, "d", keep_snapshots=10)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    ta = threading.Thread(target=writer, args=("1", 100))
    tb = threading.Thread(target=writer, args=("2", 1000))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors
    assert snap.snapshot_versions(spark, p) == [1, 2, 3]
    got = snap.snapshot_read(spark, p).agg(F.sum("id")).first()[0]
    assert got == 40 + 55 + 100 * 45 + 1000 * 50
    # the head manifest is segmented and every referenced segment exists
    head = _json.loads(open(f"{p}/__snap__/m000003.json").read())
    assert "segments" in head and "partitions" not in head
    for h in head["segments"]:
        assert os.path.exists(f"{p}/__snap__/seg_{h}.json")


def test_table_properties_set_carry_unset_travel(spark, tmp_path):
    """Table properties: a metadata-only set commit, merge semantics,
    None unsets, every data commit carries them, and time travel reads
    the properties as of the pinned version."""
    import pytest

    p = str(tmp_path / "props")
    snap.snapshot_partition_overwrite(
        spark, _df(spark, range(8)), p, "d", keep_snapshots=10
    )
    assert snap.snapshot_properties(spark, p) == {}
    v2 = snap.snapshot_set_properties(
        spark, p, {"band.rows": 2, "owner": "etl"}, keep_snapshots=10
    )
    assert snap.snapshot_properties(spark, p) == {"band.rows": 2, "owner": "etl"}
    # data commits carry properties
    snap.snapshot_append(
        spark,
        spark.createDataFrame([(100, "1")], "id long, d string"),
        p, "d", keep_snapshots=10,
    )
    assert snap.snapshot_properties(spark, p) == {"band.rows": 2, "owner": "etl"}
    # merge + unset
    snap.snapshot_set_properties(
        spark, p, {"band.rows": 4, "owner": None}, keep_snapshots=10
    )
    assert snap.snapshot_properties(spark, p) == {"band.rows": 4}
    # time travel
    assert snap.snapshot_properties(spark, p, version=v2) == {
        "band.rows": 2, "owner": "etl",
    }
    # validation
    with pytest.raises(ValueError, match="non-empty"):
        snap.snapshot_set_properties(spark, p, {})
    with pytest.raises(TypeError):
        snap.snapshot_set_properties(spark, p, {"x": object()})


def test_partition_overwrite_properties_atomic(spark, tmp_path):
    """snapshot_partition_overwrite(properties=): table properties merge
    in the SAME manifest publish as the data — set, carry, unset all ride
    data commits with no separate set-properties version (the atomicity
    the index pins rely on)."""
    import pyspark.sql.functions as F

    from callio_etl_spark import snapshots as snap

    path = str(tmp_path / "t")
    d = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    v1 = snap.snapshot_partition_overwrite(
        spark, d, path, "p", keep_snapshots=5,
        properties={"a": 1, "b": "x"},
    )
    assert snap.snapshot_properties(spark, path) == {"a": 1, "b": "x"}
    # plain commit carries them; properties= merges and None unsets
    v2 = snap.snapshot_partition_overwrite(
        spark, d, path, "p", keep_snapshots=5
    )
    assert snap.snapshot_properties(spark, path) == {"a": 1, "b": "x"}
    v3 = snap.snapshot_partition_overwrite(
        spark, d, path, "p", keep_snapshots=5,
        properties={"b": None, "c": [1, 2]},
    )
    assert snap.snapshot_properties(spark, path) == {"a": 1, "c": [1, 2]}
    # every version above is a DATA commit — no set-properties op exists
    ops = [h["op"] for h in snap.snapshot_history(spark, path)]
    assert ops.count("overwrite") == 3 and "set-properties" not in ops
    # time travel reads the properties as-of each version
    assert snap.snapshot_properties(spark, path, version=v2) == {
        "a": 1, "b": "x"
    }
    assert v1 < v2 < v3


def test_segment_thresholds_scoped_to_context(spark):
    """The spill thresholds override is a ContextVar, not a module
    global: a concurrent thread (another query running in the same
    driver) keeps the production defaults while the override is live."""
    import threading

    from callio_etl_spark import snapshots as snap

    seen: dict[str, tuple] = {}
    with snap.segment_thresholds(2, 2):
        assert snap._segment_limits() == (2, 2)

        def other():
            seen["other"] = snap._segment_limits()

        t = threading.Thread(target=other)
        t.start()
        t.join()
    assert seen["other"] == (
        snap._SEGMENT_INLINE_MAX, snap._SEGMENT_TARGET_LEAVES
    )
    assert snap._segment_limits() == (
        snap._SEGMENT_INLINE_MAX, snap._SEGMENT_TARGET_LEAVES
    )


def test_metadata_commit_reuses_all_segments(spark, tmp_path):
    """Segment-hash reuse (r10 ADVICE fix): a metadata-only commit on a
    spilled table touches ZERO leaves, so its manifest must reference the
    parent's segment files VERBATIM (same hashes, same seg_n) — the
    O(touched)-CPU contract; and a one-leaf data commit recomputes only
    that leaf's segment."""
    import json as _json

    import pyspark.sql.functions as F

    from callio_etl_spark import snapshots as snap

    path = str(tmp_path / "t")
    d = spark.range(40).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("p")
    )
    with snap.segment_thresholds(8, 8):
        v1 = snap.snapshot_partition_overwrite(
            spark, d, path, "p", keep_snapshots=5
        )
        v2 = snap.snapshot_set_properties(
            spark, path, {"note": "meta-only"}, keep_snapshots=5
        )
        one = spark.createDataFrame([(999, "7")], "k long, p string")
        v3 = snap.snapshot_partition_overwrite(
            spark, one, path, "p", keep_snapshots=5
        )

    def top(v):
        with open(f"{path}/__snap__/m{v:06d}.json", encoding="utf-8") as f:
            return _json.load(f)

    t1, t2, t3 = top(v1), top(v2), top(v3)
    assert t1.get("seg_n") and len(t1["segments"]) == t1["seg_n"]
    # metadata-only commit: identical segment list, reused verbatim
    assert t2["segments"] == t1["segments"]
    # one-leaf commit: exactly one segment replaced
    assert t3["seg_n"] == t1["seg_n"]
    diff = [i for i, (a, b) in enumerate(zip(t1["segments"], t3["segments"])) if a != b]
    assert len(diff) == 1
    # and the reassembled reads stay correct
    assert snap.snapshot_read(spark, path).count() == 40
    assert snap.snapshot_read(spark, path).where(
        F.col("k") == 999
    ).count() == 1


def test_point_read_resolves_only_touched_segments(spark, tmp_path):
    """The segmented READ path (r10): a point probe ON the partition
    column of a spilled table resolves the top manifest plus ONLY the
    probed leaves' segments — observed via the segment cache — and the
    scan is exact (that partition's rows; empty frame with the committed
    schema for an absent value). Non-partition-column probes and
    evolved-spec tables fall back to the full resolve."""
    import pyspark.sql.functions as F

    from callio_etl_spark import snapshots as snap

    path = str(tmp_path / "t")
    d = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.col("id").cast("string").alias("p"),
    )
    with snap.segment_thresholds(8, 8):
        snap.snapshot_partition_overwrite(
            spark, d, path, "p", keep_snapshots=3
        )
        # count segment loads for a cold point probe
        snap._SEG_CACHE.clear()
        got = snap.snapshot_read(spark, path, point=("p", 17)).collect()
        assert {(r["k"], r["v"]) for r in got} == {(17, 34)}
        n_loaded = sum(
            1 for (sd, _h) in snap._SEG_CACHE if sd == snap._snap_dir(path)
        )
        top = snap._read_small_json(
            *snap._hadoop(spark, path)[:2],
            snap._manifest_path(
                path, snap.snapshot_versions(spark, path)[-1]
            ),
        )
        assert top["seg_n"] > 1
        assert 1 <= n_loaded < top["seg_n"], (n_loaded, top["seg_n"])

        # IN-list probe: exactly the named partitions
        got = snap.snapshot_read(spark, path, point=("p", [3, 44])).collect()
        assert {r["k"] for r in got} == {3, 44}

        # absent value: empty frame, committed schema
        missing = snap.snapshot_read(spark, path, point=("p", 999))
        assert missing.count() == 0
        assert set(missing.columns) == {"k", "v", "p"}

        # non-partition-column probe: full resolve, unchanged semantics
        snap._SEG_CACHE.clear()
        got = snap.snapshot_read(spark, path, point=("k", 17)).collect()
        assert (17, 34) in {(r["k"], r["v"]) for r in got}
        n_loaded = sum(
            1 for (sd, _h) in snap._SEG_CACHE if sd == snap._snap_dir(path)
        )
        assert n_loaded == top["seg_n"]


def test_cdc_diff_prunes_identical_segments(spark, tmp_path):
    """Segment-hash pre-diff of the CDC window (r10): on a spilled table,
    segments whose hash matches on both sides of the window are never
    loaded for the diff — observed via the segment cache — and the feed
    is exactly the changed leaf's rows (parity with the unpruned
    semantics)."""
    import pyspark.sql.functions as F

    from callio_etl_spark import snapshots as snap

    path = str(tmp_path / "t")
    d = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.col("id").cast("string").alias("p"),
    )
    with snap.segment_thresholds(8, 8):
        v1 = snap.snapshot_partition_overwrite(
            spark, d, path, "p", keep_snapshots=5
        )
        one = spark.createDataFrame([(7, 777, "7")], "k long, v long, p string")
        v2 = snap.snapshot_partition_overwrite(
            spark, one, path, "p", keep_snapshots=5
        )
        snap._SEG_CACHE.clear()
        feed = snap.snapshot_changes(spark, path, v1, v2, ["k"]).collect()
        assert {(r["k"], r["v"], r["_change"]) for r in feed} == {
            (7, 777, "update")
        }
        loaded = sum(
            1 for (sd, _h) in snap._SEG_CACHE if sd == snap._snap_dir(path)
        )
        # one DIFFERING segment, loaded for both sides = 2 distinct
        # content hashes; the identical segments were never touched
        with open(
            f"{path}/__snap__/m{v2:06d}.json", encoding="utf-8"
        ) as f:
            import json as _json

            seg_n = _json.load(f)["seg_n"]
        assert seg_n > 2
        assert loaded == 2, (loaded, seg_n)

        # geometry-crossing / inline windows fall back to full resolve
        # (correctness only — parity on a fresh non-spilled table)
        p2 = str(tmp_path / "t2")
        w1 = snap.snapshot_partition_overwrite(
            spark, d.limit(4), p2, "p", keep_snapshots=5
        )
        w2 = snap.snapshot_partition_overwrite(
            spark, one, p2, "p", keep_snapshots=5
        )
        feed2 = snap.snapshot_changes(spark, p2, w1, w2, ["k"]).collect()
        assert any(r["k"] == 7 for r in feed2)


def test_steady_state_vacuum_is_scoped_to_touched_leaves(spark, tmp_path):
    """At steady state EVERY commit drops a retention version — if the
    vacuum then swept the dropped manifest's FULL leaf enumeration, each
    commit would pay an O(table) listStatus walk (the exact per-commit
    table walk the scoped vacuum exists to avoid). Proof by observation:
    an unreferenced token-named strand planted in an UNTOUCHED leaf must
    SURVIVE a steady-state one-leaf commit (the sweep never visited that
    leaf), the newly-dead dir in the touched leaf must be reclaimed, and
    the explicit snapshot_remove_orphans (the scheduled O(table) action)
    must then take the strand."""
    import os

    p = str(tmp_path / "scoped_vac")
    base = spark.createDataFrame(
        [(i, str(i % 40)) for i in range(200)], "k long, pk string"
    )
    snap.snapshot_partition_overwrite(spark, base, p, "pk", keep_snapshots=2)

    def one_leaf(tag):
        return spark.createDataFrame(
            [(1000 + tag, "1")], "k long, pk string"
        )

    snap.snapshot_partition_overwrite(spark, one_leaf(1), p, "pk", keep_snapshots=2)
    old_tok_dirs = {
        d for d in os.listdir(f"{p}/pk=1") if d.startswith("__s")
    }
    # plant a strand (crashed-writer shape) in an untouched leaf
    strand = f"{p}/pk=7/__s777777_deadbeef__"
    os.makedirs(strand)
    with open(f"{strand}/x.parquet", "w") as fh:
        fh.write("junk")

    # steady state: this commit drops v1 from retention
    snap.snapshot_partition_overwrite(spark, one_leaf(2), p, "pk", keep_snapshots=2)
    assert os.path.isdir(strand), (
        "vacuum listed an untouched leaf at steady state: the per-commit "
        "sweep is O(table) again"
    )
    live_tok_dirs = {
        d for d in os.listdir(f"{p}/pk=1") if d.startswith("__s")
    }
    # pk=1 held v1's and v2's dirs before the drop; v1's died with v1
    # (v2/v3 rewrote the leaf), so exactly v2's survives alongside v3's
    assert len(old_tok_dirs) == 2 and len(live_tok_dirs) == 2
    assert len(old_tok_dirs & live_tok_dirs) == 1, (
        "the touched leaf's newly-dead dir was not reclaimed"
    )

    # the scheduled full walk takes the strand
    snap.snapshot_remove_orphans(spark, p, keep_snapshots=2)
    assert not os.path.exists(strand)
    got = snap.snapshot_read(spark, p).where(F.col("pk") == "1").collect()
    assert [r["k"] for r in got] == [1002]


def test_newly_dead_leaves_pure():
    """Unit contract of the vacuum's scoping math: only leaves whose
    dropped tokens are not all still live are swept candidates."""
    from callio_etl_spark.snapshots import _newly_dead_leaves

    dropped = {
        "partitions": {"pk=1": "t1", "pk=2": "t2", "pk=3": ["t3a", "t3b"]},
        "deletes": {"pk=2": ["d2"], "pk=9": ["d9"]},
    }
    live = {
        "pk=1": {"t1"},            # fully carried: not a candidate
        "pk=2": {"t2"},            # data live but delete file d2 dead
        "pk=3": {"t3a"},           # t3b dead
        # pk=9 absent: its delete file is dead
    }
    assert _newly_dead_leaves(dropped, live) == {"pk=2", "pk=3", "pk=9"}


def test_failed_leaf_move_never_publishes(spark, tmp_path, monkeypatch):
    """A rename failing partway through the (parallel) staged-leaf move
    phase must abort the commit BEFORE the manifest publishes: readers
    keep the old version bit-for-bit, the version list does not grow,
    and the already-moved token dirs are exactly the strands the orphan
    sweep reclaims — the crash contract the mover's docstring states."""
    import pytest as _pytest

    p = str(tmp_path / "failmove")
    base = spark.createDataFrame(
        [(i, str(i % 64)) for i in range(256)], "k long, pk string"
    )
    snap.snapshot_partition_overwrite(spark, base, p, "pk", keep_snapshots=3)
    before = {
        tuple(r) for r in snap.snapshot_read(spark, p).collect()
    }
    v_before = snap.snapshot_versions(spark, p)

    import threading as _th

    real_rename = snap._rename
    calls = {"n": 0}
    counter_lock = _th.Lock()  # the mover is threaded: count exactly

    def flaky_rename(jvm, fs, src, dst):
        with counter_lock:
            calls["n"] += 1
            fire = calls["n"] == 5
        if fire and "/pk=" in dst:
            raise IOError(f"injected rename failure: {src} -> {dst}")
        return real_rename(jvm, fs, src, dst)

    monkeypatch.setattr(snap, "_rename", flaky_rename)
    with _pytest.raises(IOError, match="injected"):
        snap.snapshot_partition_overwrite(
            spark,
            base.withColumn("k", F.col("k") + 1000),
            p,
            "pk",
            keep_snapshots=3,
        )
    monkeypatch.setattr(snap, "_rename", real_rename)

    assert snap.snapshot_versions(spark, p) == v_before
    assert {
        tuple(r) for r in snap.snapshot_read(spark, p).collect()
    } == before
    # cancellation bound: the failure strands only the in-flight moves
    # (~pool width), never the whole 64-leaf staged set
    import os as _os

    stranded = sum(
        1
        for leaf in _os.listdir(p)
        if "=" in leaf
        for tok in _os.listdir(f"{p}/{leaf}")
        if tok.startswith("__s000002")
    )
    assert 0 < stranded < 40, f"expected a bounded strand count: {stranded}"
    # the partial move's strands are unreferenced; the sweep takes them
    snap.snapshot_remove_orphans(spark, p, keep_snapshots=3)
    assert {
        tuple(r) for r in snap.snapshot_read(spark, p).collect()
    } == before
    # and the table commits normally afterwards
    snap.snapshot_partition_overwrite(
        spark, base.withColumn("k", F.col("k") + 5000), p, "pk",
        keep_snapshots=3,
    )
    assert {r["k"] for r in snap.snapshot_read(spark, p).collect()} == {
        k + 5000 for k in range(256)
    }


def test_consume_changes_passes_bound_version(spark, tmp_path):
    """A consumer's process receives the version the batch is bound to:
    the version it records with its output, and the pin a mid-process
    re-read of the source table needs (a commit racing the tick would
    otherwise make re-reads disagree with the batch)."""
    p = str(tmp_path / "cdcver")
    df = spark.createDataFrame([(1, "0"), (2, "1")], "k long, d string")
    v1 = snap.snapshot_partition_overwrite(spark, df, p, "d", keep_snapshots=5)

    seen = {}

    def first(batch, bound_version):
        seen["one"] = (batch.count(), bound_version)

    assert snap.snapshot_consume_changes(spark, p, None, ["k"], first) == v1
    assert seen["one"] == (2, v1)

    v2 = snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame([(3, "0")], "k long, d string"),
        p,
        "d",
        keep_snapshots=5,
    )

    def two_arg(batch, bound_version):
        seen["two"] = (batch.count(), bound_version)

    assert snap.snapshot_consume_changes(spark, p, v1, ["k"], two_arg) == v2
    # d=0 was rewritten: k=1 deleted, k=3 inserted -> 2 change rows at v2
    assert seen["two"] == (2, v2)


def test_point_probe_on_bool_partition_falls_back(spark, tmp_path):
    """Python str(True) is 'True' but Spark writes the dir as
    'flag=true' — a leaf name constructed from the Python rendering
    would MISS and return an empty frame on a spilled table. Non-str/int
    probe values must therefore take the full resolve + row filter: the
    rows come back, on both the inline and the segmented layout."""
    p = str(tmp_path / "boolpart")
    df = spark.createDataFrame(
        [(i, i % 3 == 0) for i in range(30)], "k long, flag boolean"
    )
    with snap.segment_thresholds(1, 1):  # force the segmented layout
        snap.snapshot_partition_overwrite(
            spark, df, p, "flag", keep_snapshots=2
        )
        got = snap.snapshot_read(spark, p, point=("flag", True)).where(
            F.col("flag")
        )
        assert got.count() == 10
        # and the empty IN-list still fails loud on the spilled table
        import pytest as _pytest

        with _pytest.raises(ValueError):
            snap.snapshot_read(spark, p, point=("flag", [])).count()


def test_segment_count_doubling_boundary(spark, tmp_path):
    """VERDICT r10 item 3: growing a spilled table past the seg_n
    doubling threshold. The crossing commit falls back to a full segment
    recompute (seg_n changes, positional alignment with the parent is
    gone) — a SINGLE amortized O(table-metadata) event — and must be
    correct; the very NEXT commit resumes verbatim hash reuse at the new
    n; readers pinned to pre-crossing versions and tags still resolve,
    including point probes through the partial-leaves path."""
    import json as _json

    import pyspark.sql.functions as F

    from callio_etl_spark import snapshots as snap

    path = str(tmp_path / "t")

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("p")
        )

    def top(v):
        with open(f"{path}/__snap__/m{v:06d}.json", encoding="utf-8") as f:
            return _json.load(f)

    with snap.segment_thresholds(8, 8):
        # 12 leaves: 12/8 -> n=2 (spilled)
        v1 = snap.snapshot_partition_overwrite(
            spark, rows(0, 12), path, "p", keep_snapshots=10
        )
        t1 = top(v1)
        assert t1["seg_n"] == 2 and len(t1["segments"]) == 2
        snap.snapshot_tag(spark, path, "pre_crossing", version=v1)

        # +1 leaf (13 total): still n=2, untouched segment reused verbatim
        v2 = snap.snapshot_partition_overwrite(
            spark, rows(12, 13), path, "p", keep_snapshots=10
        )
        t2 = top(v2)
        assert t2["seg_n"] == 2
        assert any(h in t1["segments"] for h in t2["segments"]), (
            "pre-crossing reuse must carry at least one parent hash"
        )

        # THE CROSSING: grow to 20 leaves -> 20/8 -> n=4 != parent's 2;
        # _spill_segments must fall back to a full recompute, correctly
        v3 = snap.snapshot_partition_overwrite(
            spark, rows(13, 20), path, "p", keep_snapshots=10
        )
        t3 = top(v3)
        assert t3["seg_n"] == 4 and len(t3["segments"]) == 4
        assert snap.snapshot_read(spark, path).count() == 20
        assert {
            r["k"]
            for r in snap.snapshot_read(spark, path)
            .where(F.col("p").isin("0", "13", "19"))
            .collect()
        } == {0, 13, 19}

        # reuse RESUMES at the new n on the very next commit: exactly the
        # touched leaf's segment is replaced, the other 3 carried verbatim
        v4 = snap.snapshot_partition_overwrite(
            spark, rows(20, 21), path, "p", keep_snapshots=10
        )
        t4 = top(v4)
        assert t4["seg_n"] == 4
        same = [
            i
            for i, (a, b) in enumerate(zip(t3["segments"], t4["segments"]))
            if a == b
        ]
        assert len(same) == 3, (
            f"post-crossing commit must reuse 3 of 4 segments, reused "
            f"{len(same)}"
        )
        assert snap.snapshot_read(spark, path).count() == 21

        # pre-crossing pinned readers are unaffected by the re-segmenting
        assert snap.snapshot_read(spark, path, version=v1).count() == 12
        assert snap.snapshot_read(spark, path, tag="pre_crossing").count() == 12
        assert snap.snapshot_read(
            spark, path, version=v2, point=("p", "12")
        ).count() == 1
        # and a point probe on the NEW layout resolves through the
        # 4-segment partial path
        assert snap.snapshot_read(spark, path, point=("p", "19")).count() == 1


def test_merge_write_snapshot_set_valued_window(spark, tmp_path):
    """With no window, the merge derives the SET of touched partition
    values and reads and rewrites ONLY those partitions, with or without
    the partition column in the merge key: the untouched leaves' data
    dirs are carried into the new manifest BY REFERENCE (identical dir
    tokens), and a non-contiguous set ({0, 3}, which a between-window
    cannot express) is rewritten."""
    import pyspark.sql.functions as F

    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.merge import MergeSpec, merge_write_snapshot

    base = spark.createDataFrame(
        [(i, f"v{i}", i % 4) for i in range(40)],
        "k long, val string, pbkt int",
    )
    # delta touches buckets 0 and 3 only (non-contiguous): update k=0,
    # k=3, insert k=100 (100 % 4 == 0)
    delta = spark.createDataFrame(
        [(0, "UPDATED", 0), (3, "UPDATED", 3), (100, "NEW", 0)],
        "k long, val string, pbkt int",
    )
    for keys in (["k"], ["k", "pbkt"]):
        p = str(tmp_path / "_".join(keys))
        v1 = snap.snapshot_partition_overwrite(spark, base, p, "pbkt",
                                               keep_snapshots=5)
        m1 = snap.snapshot_manifest(spark, p)["partitions"]
        spec = MergeSpec(
            keys=keys,
            update_condition=~F.col("T.val").eqNullSafe(F.col("S.val")),
        )
        v2 = merge_write_snapshot(spark, p, delta, spec, "pbkt",
                                  keep_snapshots=5)
        assert v2 > v1
        m2 = snap.snapshot_manifest(spark, p)["partitions"]
        # untouched buckets 1 and 2: data dirs carried verbatim by reference
        for leaf in ("pbkt=1", "pbkt=2"):
            assert m2[leaf] == m1[leaf], f"{keys}: {leaf} rewritten outside the window"
        for leaf in ("pbkt=0", "pbkt=3"):
            assert m2[leaf] != m1[leaf], f"{keys}: {leaf} not rewritten"
        got = {r["k"]: r["val"] for r in snap.snapshot_read(spark, p).collect()}
        assert len(got) == 41
        assert got[0] == "UPDATED" and got[3] == "UPDATED" and got[100] == "NEW"
        assert got[1] == "v1" and got[2] == "v2"  # untouched buckets intact


def test_merge_write_snapshot_windowed_equals_full_merge(spark, tmp_path):
    """Parity across random deltas: the derived window, with the
    partition column in the merge key (no moved-key lookup) and without
    it (the lookup runs), must give the same table as merge_upsert over
    the WHOLE target — the window is an I/O optimization, never a
    semantics change."""
    import random

    import pyspark.sql.functions as F

    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.merge import MergeSpec, merge_upsert, merge_write_snapshot

    rng = random.Random(11)
    cond = ~F.col("T.val").eqNullSafe(F.col("S.val"))
    base_rows = [(i, f"v{i}", i % 8) for i in range(64)]
    schema = "k long, val string, pbkt int"

    for trial in range(3):
        base = spark.createDataFrame(base_rows, schema)
        delta_rows = [
            (k, f"u{trial}_{k}", k % 8)
            for k in rng.sample(range(0, 100), rng.randint(1, 12))
        ]
        delta = spark.createDataFrame(delta_rows, schema)
        want = {
            tuple(r)
            for r in merge_upsert(
                base, delta, MergeSpec(keys=["k"], update_condition=cond)
            ).collect()
        }
        for keys in (["k", "pbkt"], ["k"]):
            p = str(tmp_path / f"t{trial}_{len(keys)}")
            snap.snapshot_partition_overwrite(
                spark, base, p, "pbkt", keep_snapshots=3
            )
            merge_write_snapshot(
                spark, p, delta, MergeSpec(keys=keys, update_condition=cond),
                "pbkt", keep_snapshots=3,
            )
            got = {
                tuple(r)
                for r in snap.snapshot_read(spark, p)
                .select("k", "val", "pbkt").collect()
            }
            assert got == want, (
                f"trial {trial}, keys {keys}: windowed merge diverged from "
                f"the full merge: {got ^ want}"
            )


def test_merge_write_snapshot_partition_key_skips_the_lookup(spark, tmp_path):
    """With the partition column among the merge keys, the derived
    window skips the moved-key semi-join, so the same merge starts
    strictly fewer Spark jobs than with the key alone."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.merge import MergeSpec, merge_write_snapshot

    tracker = spark.sparkContext.statusTracker()
    schema = "k long, val string, pbkt int"
    base = spark.createDataFrame([(i, f"v{i}", i % 8) for i in range(64)], schema)
    delta = spark.createDataFrame([(1, "u", 1), (5, "u", 5), (99, "new", 3)], schema)

    def merge_jobs(keys, name):
        p = str(tmp_path / name)
        snap.snapshot_partition_overwrite(spark, base, p, "pbkt")
        group = f"merge-probe-{name}"
        spark.sparkContext.setJobGroup(group, "merge job count")
        try:
            merge_write_snapshot(spark, p, delta, MergeSpec(keys=keys), "pbkt")
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))

    merge_jobs(["k"], "warm")  # first run of the plan shape in this session
    with_key = merge_jobs(["k", "pbkt"], "with_key")
    without = merge_jobs(["k"], "without")
    assert with_key < without, (with_key, without)


def test_write_distribution_gate_sizes_and_unknown_sentinel(spark, tmp_path):
    """r14 size-gated REBALANCE (review finding): (a) a frame whose
    optimizer estimate fits ONE advisory partition keeps the plain
    write; (b) a frame spanning >= 1 advisory partition gets the hint;
    (c) Catalyst's unknown-size sentinel (defaultSizeInBytes =
    Long.MaxValue, reported for local relations / RDD-backed frames)
    means NO estimate, not HUGE — same keep-the-plain-write policy as
    the estimate-unavailable except-branch, so tiny stats-less commits
    never pay the fixed rebalance exchange the gate exists to skip."""
    from callio_etl_spark.snapshots import _distribute_for_write

    # (c) local relation: stats report the Long.MaxValue sentinel
    local = spark.createDataFrame(
        [(i, str(i % 4)) for i in range(40)], "id long, p string"
    )
    est = int(local._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est >= 2**63 - 1, "precondition: local relation reports sentinel"
    assert _distribute_for_write(local, "p") is local

    # (d) ADVICE r14: Catalyst SCALES the sentinel through a projection
    # (sizeInBytes * output-row-size ratio, strictly below the
    # sentinel), so a stats-less frame behind a Project must also read
    # as "no estimate" — the gate treats the whole >= sentinel/8 band
    # as stats-less rather than testing exact equality.
    projected = local.select("p")
    est = int(
        projected._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert (2**63 - 1) // 8 <= est < 2**63 - 1, (
        f"precondition: scaled-sentinel band, got {est}"
    )
    assert _distribute_for_write(projected, "p") is projected

    # (a)/(b) parquet-backed frame with a real, finite estimate
    src = str(tmp_path / "gate_src")
    spark.range(0, 10_000).select(
        "id", (F.col("id") % 4).cast("string").alias("p")
    ).write.parquet(src)
    df = spark.read.parquet(src)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert 0 < est < 2**62, "precondition: real estimate"
    try:
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", f"{est * 10}b"
        )
        assert _distribute_for_write(df, "p") is df  # fits one partition
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            f"{max(1, est // 10)}b",
        )
        hinted = _distribute_for_write(df, "p")
        assert hinted is not df
        assert "RebalancePartitions" in (
            hinted._jdf.queryExecution().optimizedPlan().toString()
        )
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_write_distribution_gate_survives_small_default_size(spark, tmp_path):
    """ADVICE r14 (low): a deployment that sets spark.sql.defaultSizeInBytes
    small moves the stats-less sentinel band (sentinel // 8) below real
    estimates; the band's absolute floor keeps a parquet frame's real
    estimate visible, so the rebalance gate still fires on it."""
    from callio_etl_spark.snapshots import (
        _distribute_for_write,
        _plan_size_estimate,
    )

    src = str(tmp_path / "small_default_src")
    spark.range(0, 10_000).select(
        "id", (F.col("id") % 4).cast("string").alias("p")
    ).write.parquet(src)
    est = int(
        spark.read.parquet(src)._jdf.queryExecution().optimizedPlan()
        .stats().sizeInBytes()
    )
    assert 0 < est < 2**62, "precondition: real estimate"
    try:
        spark.conf.set("spark.sql.defaultSizeInBytes", str(max(8, est // 4)))
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            f"{max(1, est // 10)}b",
        )
        df = spark.read.parquet(src)
        assert _plan_size_estimate(df) == est
        hinted = _distribute_for_write(df, "p")
        assert "RebalancePartitions" in (
            hinted._jdf.queryExecution().optimizedPlan().toString()
        )
    finally:
        spark.conf.unset("spark.sql.defaultSizeInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


@pytest.mark.parametrize("verb", ["delete_rows", "upsert_rows", "restore"])
def test_publish_retry_after_later_commit_returns_published_version(
    spark, tmp_path, verb
):
    """``published_from`` marks only the manifest a WAP publish wrote: a
    later commit must not inherit it, or a retried snapshot_publish
    would report that later commit as the publish."""
    p = str(tmp_path / verb)
    snap.snapshot_partition_overwrite(spark, _df(spark, range(8)), p, "d")
    sv = snap.snapshot_partition_overwrite(
        spark, _df(spark, range(8), mult=10), p, "d", audit=True
    )
    live = snap.snapshot_publish(spark, p, sv)
    assert (sv, live) == (2, 3)
    if verb == "delete_rows":
        later = snap.snapshot_delete_rows(spark, p, F.col("id") == 0, keys=["id"])
    elif verb == "upsert_rows":
        src = spark.createDataFrame([(5000, "1")], "id long, d string")
        later = snap.snapshot_upsert_rows(spark, p, src, keys=["id"])
    else:
        later = snap.snapshot_restore(spark, p, live)
    assert later == 4
    assert "published_from" not in snap.snapshot_manifest(spark, p)
    assert snap.snapshot_publish(spark, p, sv) == live


def test_every_commit_verb_carries_table_metadata(spark, tmp_path):
    """One carry rule for every manifest-publishing verb: table
    properties, the rename and widen histories, the established
    delete_keys and (once the spec evolved) spec_history survive each
    commit, and no commit inherits the per-manifest WAP keys."""
    p = str(tmp_path / "carry")
    keep = {"keep_snapshots": 30}
    base = spark.createDataFrame(
        [(i, i % 5, i % 3, f"n{i}", "x", str(i % 2)) for i in range(12)],
        "id long, v int, w int, name string, extra string, d string",
    )
    snap.snapshot_partition_overwrite(spark, base, p, "d", **keep)
    snap.snapshot_set_properties(spark, p, {"owner": "etl"}, **keep)
    snap.snapshot_rename_column(spark, p, "name", "label", **keep)
    snap.snapshot_widen_column(spark, p, "v", "long", **keep)
    snap.snapshot_delete_rows(spark, p, F.col("id") == 0, keys=["id"], **keep)
    snap.snapshot_compact_partition(spark, p, "0", **keep)  # clears deletes

    def check(published_from=None, spec_history=None):
        m = snap.snapshot_manifest(spark, p)
        assert m["properties"]["owner"] == "etl"
        assert any(
            r["from"] == "name" and r["to"] == "label" for r in m["renames"]
        )
        assert any(w["name"] == "v" and w["to"] == "long" for w in m["widens"])
        assert m["delete_keys"] == ["id"]
        assert "staged" not in m and "parent" not in m
        assert m.get("published_from") == published_from
        assert m.get("spec_history") == spec_history
        return m["version"]

    def live():
        return snap.snapshot_read(spark, p)

    check()
    snap.snapshot_set_properties(spark, p, {"tier": "gold"}, **keep)
    check()
    snap.snapshot_rename_column(spark, p, "w", "w2", **keep)
    check()
    snap.snapshot_widen_column(spark, p, "w2", "long", **keep)
    check()
    snap.snapshot_drop_column(spark, p, "extra", **keep)
    check()
    snap.snapshot_partition_overwrite(
        spark, live().where(F.col("d") == "1"), p, "d", **keep
    )
    no_pending = check()
    snap.snapshot_append(
        spark,
        live().where(F.col("d") == "0").withColumn("id", F.col("id") + 100),
        p,
        "d",
        **keep,
    )
    check()
    snap.snapshot_delete_rows(spark, p, F.col("id") == 1, keys=["id"], **keep)
    check()
    snap.snapshot_upsert_rows(
        spark,
        p,
        live().where(F.col("id") == 2).withColumn("v", F.col("v") + 10),
        keys=["id"],
        **keep,
    )
    check()
    snap.snapshot_restore(spark, p, no_pending, **keep)
    check()

    # partition-spec evolution: spec_history rides every later commit too
    evolved = ["d", "m"]
    snap.snapshot_evolve_spec(spark, p, "m", **keep)
    check(spec_history=evolved)
    snap.snapshot_partition_overwrite(
        spark, live().withColumn("m", F.lit("a")), p, "m", **keep
    )
    check(spec_history=evolved)
    snap.snapshot_append(
        spark, live().limit(2).withColumn("m", F.lit("b")), p, "m", **keep
    )
    check(spec_history=evolved)
    snap.snapshot_delete_partitions(spark, p, ["b"], **keep)
    check(spec_history=evolved)
    sv = snap.snapshot_partition_overwrite(
        spark, live().withColumn("m", F.lit("c")), p, "m", audit=True, **keep
    )
    snap.snapshot_publish(spark, p, sv, **keep)
    check(published_from=sv, spec_history=evolved)
    snap.snapshot_set_properties(spark, p, {"tier": None}, **keep)
    check(spec_history=evolved)



def _gen_df(spark, gen, n=4):
    return spark.createDataFrame(
        [(i, i * gen) for i in range(n)], "id long, v long"
    )


def _gen_rows(gen, n=4):
    return {(i, i * gen) for i in range(n)}


def _rows(df):
    return {(r["id"], r["v"]) for r in df.collect()}


def test_whole_table_overwrite_time_travel_and_restore(spark, tmp_path):
    """snapshot_overwrite replaces the whole table per commit: every
    retained version time-travels back exactly, readers see only the
    frame's columns, and a restore is itself a commit (undoable)."""
    p = str(tmp_path / "wt")
    assert [
        snap.snapshot_overwrite(spark, _gen_df(spark, k), p, keep_snapshots=4)
        for k in (1, 2, 3)
    ] == [1, 2, 3]
    assert snap.snapshot_versions(spark, p) == [1, 2, 3]
    live = snap.snapshot_read(spark, p)
    assert live.columns == ["id", "v"]
    assert _rows(live) == _gen_rows(3)
    for k in (1, 2):
        old = snap.snapshot_read(spark, p, version=k)
        assert old.columns == ["id", "v"]
        assert _rows(old) == _gen_rows(k)

    assert snap.snapshot_restore(spark, p, 1, keep_snapshots=4) == 4
    assert _rows(snap.snapshot_read(spark, p)) == _gen_rows(1)
    # the pre-restore head stays readable: the restore is undoable
    assert snap.snapshot_versions(spark, p) == [1, 2, 3, 4]
    assert _rows(snap.snapshot_read(spark, p, version=3)) == _gen_rows(3)
    snap.snapshot_tag(spark, p, "gen2", version=2)
    assert _rows(snap.snapshot_read(spark, p, tag="gen2")) == _gen_rows(2)

    with pytest.raises(FileNotFoundError):
        snap.snapshot_read(spark, p, version=99)
    with pytest.raises(ValueError, match="reserved"):
        snap.snapshot_overwrite(
            spark, live.withColumn(snap.WHOLE_TABLE_COL, F.lit(1)), p
        )
    with pytest.raises(ValueError, match="partitioned by"):
        snap.snapshot_partition_overwrite(
            spark, _gen_df(spark, 5).withColumn("d", F.lit("a")), p, "d"
        )


def test_whole_table_overwrite_retention_bound_and_vacuum(spark, tmp_path):
    """keep_snapshots bounds a whole table's history: the newest K
    versions survive as a contiguous suffix, each with exactly one data
    dir on disk; snapshot_vacuum tightens it and reports what it
    dropped."""
    p = str(tmp_path / "wv")
    for k in range(1, 6):
        snap.snapshot_overwrite(spark, _gen_df(spark, k), p, keep_snapshots=3)
    assert snap.snapshot_versions(spark, p) == [3, 4, 5]
    leaf = os.path.join(p, f"{snap.WHOLE_TABLE_COL}=all")

    def data_dirs():
        return sorted(d for d in os.listdir(leaf) if d.startswith("__s"))

    assert len(data_dirs()) == 3
    assert snap.snapshot_vacuum(spark, p, keep_snapshots=2) == [3]
    assert snap.snapshot_versions(spark, p) == [4, 5]
    assert len(data_dirs()) == 2
    assert snap.snapshot_vacuum(spark, p, keep_snapshots=2) == []
    assert _rows(snap.snapshot_read(spark, p, version=4)) == _gen_rows(4)
    assert _rows(snap.snapshot_read(spark, p)) == _gen_rows(5)
    with pytest.raises(ValueError):
        snap.snapshot_vacuum(spark, p, keep_snapshots=0)
    with pytest.raises(FileNotFoundError):
        snap.snapshot_vacuum(spark, str(tmp_path / "none"), keep_snapshots=1)


def test_whole_table_restore_with_minimal_retention(spark, tmp_path):
    """A restore at the smallest retention that still holds an older
    version (keep_snapshots=2): the restored content is read from the
    source manifest before the commit's vacuum drops it, and the
    displaced head stays retained, so the restore can be undone."""
    p = str(tmp_path / "wr")
    for k in (1, 2):
        snap.snapshot_overwrite(spark, _gen_df(spark, k), p, keep_snapshots=2)
    assert snap.snapshot_versions(spark, p) == [1, 2]
    assert snap.snapshot_restore(spark, p, 1, keep_snapshots=2) == 3
    assert _rows(snap.snapshot_read(spark, p)) == _gen_rows(1)
    assert snap.snapshot_versions(spark, p) == [2, 3]
    assert _rows(snap.snapshot_read(spark, p, version=2)) == _gen_rows(2)
    snap.snapshot_restore(spark, p, 2, keep_snapshots=2)  # undo
    assert _rows(snap.snapshot_read(spark, p)) == _gen_rows(2)


def test_whole_table_empty_overwrite_empties_the_table(spark, tmp_path):
    """An empty frame publishes an empty table in one commit (the old
    leaf retires with it) and keeps the frame's columns; the previous
    version stays readable and a later overwrite refills the table."""
    p = str(tmp_path / "we")
    snap.snapshot_overwrite(spark, _gen_df(spark, 1), p, keep_snapshots=3)
    assert snap.snapshot_overwrite(
        spark, _gen_df(spark, 1).limit(0), p, keep_snapshots=3
    ) == 2
    empty = snap.snapshot_read(spark, p)
    assert empty.columns == ["id", "v"] and empty.count() == 0
    assert [h["n_partitions"] for h in snap.snapshot_history(spark, p)] == [1, 0]
    assert _rows(snap.snapshot_read(spark, p, version=1)) == _gen_rows(1)
    snap.snapshot_overwrite(spark, _gen_df(spark, 2), p, keep_snapshots=3)
    assert _rows(snap.snapshot_read(spark, p)) == _gen_rows(2)


def test_whole_table_model_based_random_sequences(spark, tmp_path):
    """Model-based check of the whole-table lifecycle: random sequences
    of overwrite / restore / vacuum against a pure-Python model of the
    retained history ({version: generation}, newest = live); the real
    table must agree after every step."""
    import random

    KEEP = 3

    def df_for(gen):
        return spark.createDataFrame(
            [(i, gen) for i in range(3)], "id long, gen long"
        )

    def gens(version=None):
        return {r["gen"] for r in snap.snapshot_read(spark, p, version=version).collect()}

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        p = str(tmp_path / f"model{seed}")
        snap.snapshot_overwrite(spark, df_for(1), p, keep_snapshots=KEEP)
        history, next_gen, next_v = {1: 1}, 2, 2
        for _ in range(12):
            op = rng.choice(["commit", "commit", "restore", "vacuum"])
            if op == "commit":
                snap.snapshot_overwrite(
                    spark, df_for(next_gen), p, keep_snapshots=KEEP
                )
                history[next_v] = next_gen
                next_gen += 1
            elif op == "restore":
                v = rng.choice(sorted(history))
                snap.snapshot_restore(spark, p, v, keep_snapshots=KEEP)
                history[next_v] = history[v]
            else:
                k = rng.randint(1, KEEP)
                dropped = snap.snapshot_vacuum(spark, p, keep_snapshots=k)
                assert dropped == sorted(history)[:-k]
                for w in dropped:
                    del history[w]
                continue
            next_v += 1
            for w in sorted(history)[:-KEEP]:
                del history[w]
            assert snap.snapshot_versions(spark, p) == sorted(history)
            assert gens() == {history[max(history)]}
            for v, gen in history.items():
                assert gens(v) == {gen}, (seed, v, gen)


def test_changes_match_null_partition_and_null_key_rows(spark, tmp_path):
    """snapshot_changes joins old and new NULL-safely: a row in the NULL
    partition (__HIVE_DEFAULT_PARTITION__) or with a NULL key that both
    versions hold unchanged is not a change, even when its partition was
    rewritten; only the updated row is reported, in both feed forms."""
    p = str(tmp_path / "cn")
    schema = "id long, d string, v long"
    rows = [(1, None, 10), (None, "a", 20), (2, "a", 30), (3, "b", 40)]
    snap.snapshot_partition_overwrite(
        spark, spark.createDataFrame(rows, schema), p, "d", keep_snapshots=3
    )
    rows[2] = (2, "a", 31)
    snap.snapshot_partition_overwrite(
        spark, spark.createDataFrame(rows[:3], schema), p, "d", keep_snapshots=3
    )
    def feed(**kw):
        out = snap.snapshot_changes(spark, p, 1, 2, keys=["id"], **kw)
        assert sorted(out.columns) == ["_change", "d", "id", "v"]
        return sorted(
            (r["d"], r["id"], r["v"], r["_change"]) for r in out.collect()
        )

    assert feed() == [("a", 2, 31, "update")]
    assert feed(preimages=True) == [
        ("a", 2, 30, "update_preimage"),
        ("a", 2, 31, "update_postimage"),
    ]


def test_retire_leaves_replaces_or_drops_in_one_commit(spark, tmp_path):
    """The rule the keyed-delta rewrites (the index services, the
    streaming sink's moved keys) rely on: a listed leaf the frame writes
    is replaced, a listed leaf the frame leaves empty is dropped, an
    unlisted leaf carries over — one version per call, even for an empty
    frame that only drops leaves and sets properties. A listed leaf the
    head lacks is refused."""
    p = str(tmp_path / "t")
    snap.snapshot_partition_overwrite(spark, _df(spark, range(8)), p, "d")
    v = snap.snapshot_versions(spark, p)[-1]

    # d=0 listed and written (replaced), d=1 listed and empty (dropped),
    # d=2 / d=3 unlisted (carried)
    snap.snapshot_partition_overwrite(
        spark, _df(spark, [0], mult=100), p, "d",
        retire_leaves=["d=0", "d=1"],
    )
    assert snap.snapshot_versions(spark, p)[-1] == v + 1
    assert sorted(snap.snapshot_manifest(spark, p)["partitions"]) == [
        "d=0", "d=2", "d=3",
    ]
    rows = snap.snapshot_read(spark, p).collect()
    got = sorted((r["id"], r["d"]) for r in rows)
    assert got == [(0, "0"), (2, "2"), (3, "3"), (6, "2"), (7, "3")]

    # an empty frame: a pure drop plus a property, still one version
    empty = spark.createDataFrame([], "id long, d string")
    snap.snapshot_partition_overwrite(
        spark, empty, p, "d", retire_leaves=["d=2"],
        properties={"pin": "x"},
    )
    assert snap.snapshot_versions(spark, p)[-1] == v + 2
    assert sorted(snap.snapshot_manifest(spark, p)["partitions"]) == [
        "d=0", "d=3",
    ]
    assert snap.snapshot_properties(spark, p)["pin"] == "x"
    assert snap.snapshot_read(spark, p).count() == 3

    # the head no longer holds d=1: refused, nothing published
    with pytest.raises(FileNotFoundError, match="retire_leaves"):
        snap.snapshot_partition_overwrite(
            spark, _df(spark, [3]), p, "d", retire_leaves=["d=1"]
        )
    assert snap.snapshot_versions(spark, p)[-1] == v + 2
