"""Sink / table-lifecycle operators (SURVEY section 2.1, S8-S13)."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F

from callio_etl_spark.io import write_partitioned
from callio_etl_spark.snapshots import (
    snapshot_append,
    snapshot_overwrite,
    snapshot_read,
    snapshot_versions,
)


def test_append_with_schema_evolution(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_append(spark, spark.createDataFrame([(1, "a")], "id long, x string"), p, None)
    # S8: later batch adds a column (ALLOW_FIELD_ADDITION)
    snapshot_append(
        spark,
        spark.createDataFrame([(2, "b", 9.5)], "id long, x string, y double"),
        p,
        None,
    )
    df = snapshot_read(spark, p)
    rows = {r["id"]: r for r in df.collect()}
    assert set(df.columns) == {"id", "x", "y"}
    assert rows[1]["y"] is None and rows[2]["y"] == 9.5


def test_truncate_replaces(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_append(spark, spark.createDataFrame([(1,)], "id long"), p, None)
    snapshot_overwrite(spark, spark.createDataFrame([(2,), (3,)], "id long"), p)
    assert sorted(r["id"] for r in snapshot_read(spark, p).collect()) == [2, 3]


def test_partitioned_write_layout(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a", "2024-01-01", 1), ("b", "2024-01-02", 2)], "tenant string, d string, v long"
    ).withColumn("d", F.col("d").cast("date"))
    write_partitioned(df, p, "d", cluster_cols=["tenant"])
    # S12 / section 1.4: hive-style day partition directories exist
    assert os.path.isdir(f"{p}/d=2024-01-01") and os.path.isdir(f"{p}/d=2024-01-02")
    # partition pruning: reading one day touches one directory
    one = spark.read.parquet(p).where(F.col("d") == "2024-01-01")
    assert [r["tenant"] for r in one.collect()] == ["a"]
    files = [f for r in one.select(F.input_file_name()).distinct().collect() for f in r]
    assert all("d=2024-01-01" in f for f in files)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key join WITHOUT any shuffle: the
    write-time hash layout replaces the runtime Exchange on both sides."""
    from callio_etl_spark.io import write_bucketed

    a = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn("va", F.col("k") * 2)
    b = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn("vb", F.col("k") + 7)
    write_bucketed(a, "bkt_a", ["k"], 8)
    write_bucketed(b, "bkt_b", ["k"], 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the big-big (SortMergeJoin) path is planned —
        # that's the case bucketing exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_salted_join_matches_plain_join(spark):
    """salted_join must be row-identical to the plain join, including a
    pathological 90%-one-key skew and duplicate right-side keys."""
    from callio_etl_spark.io import salted_join

    left = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)],
        "k long, v long",
    )
    right = spark.createDataFrame(
        [(1, "hot"), (1, "hot2"), (2, "cold"), (999, "miss")], "k long, name string"
    )
    got = sorted(salted_join(left, right, "k").collect())
    want = sorted(left.join(right, "k").collect())
    assert got == want


def test_json_ingest_to_flatten_chain(spark, tmp_path):
    """End-to-end ingestion in the reference's native shape: nested JSON docs
    (struct user, array-of-struct customFields) -> read_json_docs with an
    explicit schema -> flatten_customer produces the flattened columns."""
    import json

    from callio_etl_spark.flatten import flatten_customer
    from callio_etl_spark.io import read_json_docs

    docs = [
        {
            "_id": "c1",
            "user": {"_id": "u1", "name": "An", "group": {"_id": "g1"}},
            "customFields": [{"key": "tinh-trang-kh", "val": "có nhu cầu"}],
            "updateTime": 1700000000000,
            "createTime": 1690000000000,
        },
        {"_id": "c2", "user": None, "customFields": None,
         "updateTime": 1700000100000, "createTime": None},
    ]
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(json.dumps(d, ensure_ascii=False) for d in docs))
    schema = (
        "_id string, user struct<_id:string,name:string,group:struct<_id:string>>, "
        "customFields array<struct<key:string,val:string>>, "
        "updateTime long, createTime long"
    )
    raw = read_json_docs(spark, str(p), schema)
    out = {r["_id"]: r for r in flatten_customer(raw, "PK").collect()}
    assert out["c1"]["user_id"] == "u1"
    assert out["c1"]["user_group_id"] == "g1"
    assert out["c1"]["customField_0_val"] == "có nhu cầu"
    assert out["c2"]["user_id"] is None
    assert out["c1"]["tenant"] == "PK"


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """A filter on the partition column must prune at planning time: the scan
    reports the predicate under PartitionFilters and reads only matching
    directories."""
    from callio_etl_spark.io import write_partitioned

    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 5:02d}") for i in range(100)], "v long, d string"
    )
    path = str(tmp_path / "part")
    write_partitioned(df, path, "d")
    back = spark.read.parquet(path).where(F.col("d") == "2024-01-03")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "2024-01-03" in pf[0], plan
    assert back.count() == 20


def test_csv_ingest_with_corrupt_quarantine(spark, tmp_path):
    """Malformed CSV lines land in _corrupt_record; good rows parse fully."""
    from callio_etl_spark.io import read_csv_table
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    p = tmp_path / "in.csv"
    p.write_text("id,name,n\n1,alpha,10\n2,beta,not_a_number\n3,gamma,30\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("n", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_csv_table(spark, str(p), schema=schema).cache()
    good = df.where(df._corrupt_record.isNull())
    bad = df.where(df._corrupt_record.isNotNull())
    assert good.count() == 2
    assert [r.id for r in bad.collect()] == [2]


def test_orc_roundtrip(spark, tmp_path):
    """ORC write/read roundtrip — the other splittable columnar format the
    engine supports out of the box (predicate pushdown + column pruning
    work the same as parquet through the DSv2 reader)."""
    p = str(tmp_path / "t.orc")
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "k long, s string, v double")
    df.write.mode("overwrite").orc(p)
    back = spark.read.orc(p).orderBy("k")
    assert [tuple(r) for r in back.collect()] == [(1, "a", 1.5), (2, "b", 2.5)]


def test_salted_join_rejects_right_preserving_types(spark):
    """right/full_outer would emit each unmatched right row n_salts times
    (the right side is exploded across all salts) — must raise."""
    import pytest

    from callio_etl_spark.io import salted_join

    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(1, "x")], "k long, w string")
    for how in ("right", "full_outer", "full", "outer"):
        with pytest.raises(ValueError):
            salted_join(left, right, "k", n_salts=4, how=how)
    # left-preserving types still work
    assert salted_join(left, right, "k", n_salts=4, how="left").count() == 1


# ----------------------------------------------- whole-table commit protocol
# The whole-table commit is snapshot_overwrite: staged unlocked beside the
# table, then one manifest publish under the table lock. These tests carry
# the crash points of the rename swap it replaced over to that commit.


def _seed(spark, p, rows, ddl="id long, d string, v long"):
    snapshot_overwrite(spark, spark.createDataFrame(rows, ddl), p)


def _staging_siblings(tmp_path, name):
    return [n for n in os.listdir(tmp_path) if n.startswith(name + ".__staging__")]


def test_atomic_overwrite_reads_own_target(spark, tmp_path):
    """The classic self-overwrite: df is derived FROM the table it
    replaces. No localCheckpoint needed — the old data files are
    immutable, so staging completes against them — and no staging
    survives a clean commit."""
    p = str(tmp_path / "t")
    _seed(spark, p, [(i, "x", i) for i in range(20)])
    halved = snapshot_read(spark, p).where(F.col("id") < 10)
    snapshot_overwrite(spark, halved, p)
    assert sorted(r["id"] for r in snapshot_read(spark, p).collect()) == list(range(10))
    assert not _staging_siblings(tmp_path, "t")


def test_atomic_overwrite_crash_injection_keeps_old_table(spark, tmp_path, monkeypatch):
    """Inject a failure into the decisive step of the commit (the
    manifest publish): the table must still read as the old content,
    and a retry commits."""
    import callio_etl_spark.snapshots as snap

    p = str(tmp_path / "t")
    _seed(spark, p, [(i, "x", i) for i in range(10)])

    real_rename = snap._rename

    def boom(jvm, fs, src, dst):
        if dst.endswith(".json"):
            raise RuntimeError("injected crash mid-commit")
        return real_rename(jvm, fs, src, dst)

    monkeypatch.setattr(snap, "_rename", boom)
    new = spark.createDataFrame([(99, "y", 0)], "id long, d string, v long")
    try:
        snapshot_overwrite(spark, new, p)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(snap, "_rename", real_rename)
    assert sorted(r["id"] for r in snapshot_read(spark, p).collect()) == list(range(10))
    assert not _staging_siblings(tmp_path, "t")
    snapshot_overwrite(spark, new, p)
    assert [r["id"] for r in snapshot_read(spark, p).collect()] == [99]


def test_recover_drops_incomplete_staging(spark, tmp_path):
    """Crash DURING the staging write: the torn writer-unique staging
    beside the table is dropped by the next commit once it is older than
    the staging window, and the table is untouched by it. A fresh
    staging (a concurrent writer's, in flight) is left alone."""
    from callio_etl_spark.io import STAGING_STALE_S

    p = str(tmp_path / "t")
    _seed(spark, p, [(1, "a", 1)])
    torn, live = p + ".__staging__.deadbeef0001", p + ".__staging__.cafebabe0002"
    for d in (torn, live):
        os.makedirs(d)
        open(f"{d}/part-00000.parquet", "w").write("torn")
    aged = time.time() - STAGING_STALE_S - 60
    os.utime(torn, (aged, aged))
    assert snapshot_read(spark, p).count() == 1
    _seed(spark, p, [(2, "b", 2)])
    assert not os.path.exists(torn)
    assert os.path.exists(live)
    assert [r["id"] for r in snapshot_read(spark, p).collect()] == [2]


def test_recover_rolls_forward_after_backup_rename(spark, tmp_path, monkeypatch):
    """Crash past the decisive step (here: in the vacuum right after the
    manifest publish): the commit is complete — readers see the new
    content — with no recovery step at all."""
    import callio_etl_spark.snapshots as snap

    p = str(tmp_path / "t")
    _seed(spark, p, [(1, "a", 1)])

    def boom(*a, **kw):
        raise RuntimeError("injected crash after publish")

    monkeypatch.setattr(snap, "_vacuum_snapshots", boom)
    try:
        _seed(spark, p, [(2, "b", 2)])
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.undo()
    rows = snapshot_read(spark, p).collect()
    assert [r["id"] for r in rows] == [2]
    assert snapshot_versions(spark, p) == [1, 2]
    assert not _staging_siblings(tmp_path, "t")


def test_recover_drops_committed_backup(spark, tmp_path):
    """The displaced generation (the swap's backup) stays readable while
    retention keeps it, and the commit that pushes it past retention
    drops its data dir: the new table is live, the old files are gone."""
    import glob

    p = str(tmp_path / "t")
    _seed(spark, p, [(1, "a", 1)])
    old_dirs = glob.glob(f"{p}/*=*/__s*__")
    _seed(spark, p, [(2, "b", 2)])
    assert [r["id"] for r in snapshot_read(spark, p, version=1).collect()] == [1]
    assert all(os.path.exists(d) for d in old_dirs)
    _seed(spark, p, [(3, "c", 3)])  # keep_snapshots=2: version 1 goes
    assert [r["id"] for r in snapshot_read(spark, p).collect()] == [3]
    assert old_dirs and not any(os.path.exists(d) for d in old_dirs)


def test_atomic_overwrite_crash_sweep_every_step(spark, tmp_path):
    """Exhaustive crash-point sweep: abort the whole-table commit at the
    Nth filesystem mutation (rename/delete) for every N, and require the
    table to read back as EITHER the complete old state or the complete
    new state — never torn, never missing — with the lock released and
    the next commit landing cleanly. This is the commit's actual
    guarantee, tested at every reachable crash point."""
    import itertools

    import callio_etl_spark.snapshots as snap
    from callio_etl_spark.io import LOCK_SUFFIX

    old_rows = {(i, i * 2) for i in range(10)}
    new_rows = {(i, i * 3) for i in range(5)}

    real = {"rename": snap._rename, "delete": snap._delete}

    for crash_at in itertools.count(1):
        p = str(tmp_path / f"t{crash_at}")
        _seed(spark, p, sorted(old_rows), "id long, v long")
        new_df = spark.createDataFrame(sorted(new_rows), "id long, v long")

        calls = {"n": 0}

        def make_boom(fn):
            def wrapped(*args, **kw):
                calls["n"] += 1
                if calls["n"] == crash_at:
                    raise RuntimeError(f"crash at fs-op {crash_at}")
                return fn(*args, **kw)

            return wrapped

        for name, fn in real.items():
            setattr(snap, f"_{name}", make_boom(fn))
        try:
            snapshot_overwrite(spark, new_df, p)
            crashed = False
        except RuntimeError:
            crashed = True
        finally:
            for name, fn in real.items():
                setattr(snap, f"_{name}", fn)

        got = {(r["id"], r["v"]) for r in snapshot_read(spark, p).collect()}
        assert got in (old_rows, new_rows), (
            f"crash at op {crash_at}: torn table {got}"
        )
        assert not os.path.exists(p + LOCK_SUFFIX)
        if not crashed:
            assert got == new_rows
            break  # no injection fired: every crash point swept
        snapshot_overwrite(spark, new_df, p)
        assert {(r["id"], r["v"]) for r in snapshot_read(spark, p).collect()} == new_rows


def test_salted_join_balances_hot_key_across_tasks(spark):
    """The point of salting: with one key holding ~95% of the left side, a
    plain shuffle join lands every hot row in ONE join task (max-task rows
    ~= hot-key rows — the straggler that serializes the stage at 100 TB),
    while salted_join spreads them across n_salts tasks. Measured directly:
    spark_partition_id() evaluated in the join stage counts rows per join
    task, with AQE and broadcast disabled so nothing rewrites the shape."""
    import pyspark.sql.functions as F

    from callio_etl_spark.io import salted_join

    old = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        n, hot_frac, n_salts = 100_000, 0.95, 16
        hot_n = int(n * hot_frac)
        big = spark.range(n).select(
            F.when(F.col("id") < hot_n, F.lit(1)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(2_000).select(F.col("id").alias("k"), F.col("id").alias("w"))

        def max_task_rows(joined):
            per = (
                joined.select(F.spark_partition_id().alias("p"))
                .groupBy("p")
                .count()
                .collect()
            )
            return max(r["count"] for r in per)

        plain_max = max_task_rows(big.join(small, "k"))
        salted_max = max_task_rows(salted_join(big, small, "k", n_salts=n_salts))

        # plain: the hot key's task processes every hot row
        assert plain_max >= hot_n
        # salted: the hot key is split into n_salts (k, salt) combos; with 32
        # shuffle partitions a task can draw 2-3 combos (birthday collisions),
        # so bound at 4x the ideal hot_n/n_salts share — still >= 4x better
        # than the unsalted straggler
        assert salted_max <= 4 * hot_n // n_salts, (plain_max, salted_max)
        assert salted_max * 4 <= plain_max
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_concurrent_atomic_overwrites_no_torn_table(spark, tmp_path):
    """Two writers racing interleaved whole-table overwrites on one table:
    after every round the table must read as EXACTLY one writer's
    complete dataset (never a torn mix, never missing), every retained
    version too, no staging survives, and the lock is released. This is
    the last-writer-wins contract the commit lock adds over the
    single-writer protocol."""
    import threading

    from callio_etl_spark.io import LOCK_SUFFIX

    p = str(tmp_path / "race_t")
    _seed(spark, p, [(i, "seed") for i in range(5)], "id long, w string")

    def writer(tag: str, n: int, errors: list):
        try:
            df = spark.createDataFrame(
                [(i, tag) for i in range(n)], "id long, w string"
            )
            for _ in range(4):
                snapshot_overwrite(spark, df, p)
        except Exception as e:  # surfaced below — assert in main thread
            errors.append(e)

    errors: list = []
    ta = threading.Thread(target=writer, args=("aa", 50, errors))
    tb = threading.Thread(target=writer, args=("bb", 80, errors))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors

    for version in snapshot_versions(spark, p):
        rows = snapshot_read(spark, p, version=version).collect()
        tags = {r["w"] for r in rows}
        assert len(tags) == 1, f"torn table: {tags}"
        tag = tags.pop()
        want = 50 if tag == "aa" else 80
        assert len(rows) == want and sorted(r["id"] for r in rows) == list(range(want))
    assert snapshot_versions(spark, p)[-1] == 9  # seed + 8 commits
    assert not os.path.exists(p + LOCK_SUFFIX)
    leftovers = _staging_siblings(tmp_path, "race_t")
    assert not leftovers, leftovers


def test_stale_commit_lock_is_reclaimed(spark, tmp_path):
    """A lock file left by a crashed writer (mtime older than the stale
    window) must not block the next committer: it reclaims the lock,
    commits, and the table reflects the new write."""
    from callio_etl_spark.io import LOCK_SUFFIX

    p = str(tmp_path / "stale_t")
    _seed(spark, p, [(1, "old")], "id long, w string")
    lock = p + LOCK_SUFFIX
    with open(lock, "w"):
        pass
    two_hours_ago = time.time() - 2 * 3600
    os.utime(lock, (two_hours_ago, two_hours_ago))

    new = spark.createDataFrame([(2, "new")], "id long, w string")
    snapshot_overwrite(spark, new, p)  # must not TimeoutError
    assert [r["w"] for r in snapshot_read(spark, p).collect()] == ["new"]
    assert not os.path.exists(lock)


def test_live_commit_lock_blocks_until_released(spark, tmp_path):
    """A FRESH lock (simulating a committer mid-swap) must make a second
    committer wait; once released, the blocked commit proceeds. Uses a
    short timeout to prove the waiter was genuinely blocked."""
    import threading

    from callio_etl_spark.io import LOCK_SUFFIX

    p = str(tmp_path / "block_t")
    _seed(spark, p, [(1, "old")], "id long, w string")
    lock = p + LOCK_SUFFIX
    with open(lock, "w"):
        pass  # fresh lock: held

    released = threading.Event()

    def release_later():
        time.sleep(1.5)
        os.remove(lock)
        released.set()

    t = threading.Thread(target=release_later)
    t.start()
    new = spark.createDataFrame([(2, "new")], "id long, w string")
    snapshot_overwrite(spark, new, p)
    t.join()
    assert released.is_set(), "commit finished while the lock was held"
    assert [r["w"] for r in snapshot_read(spark, p).collect()] == ["new"]


def test_lock_heartbeat_prevents_live_reclaim(spark, tmp_path):
    """A LIVE holder is never mistaken for a crashed one: the heartbeat
    refreshes the lock's mtime every stale_s/4, so a waiter that arrives
    after stale_s must still TIME OUT rather than reclaim — the stale
    window reclaims crashed holders only. The SERVICE lock wraps whole
    rebuild sequences (O(corpus) at scale), so 'held longer than stale_s'
    is a legitimate state, not a crash signal."""
    import pytest as _pytest

    from callio_etl_spark.io import acquire_table_lock, release_table_lock

    p = str(tmp_path / "beat_t")
    lock = acquire_table_lock(spark, p, stale_s=1.0)
    try:
        time.sleep(1.6)  # > stale_s: only the heartbeat keeps it fresh
        with _pytest.raises(TimeoutError):
            acquire_table_lock(spark, p, timeout_s=0.8, stale_s=1.0)
        assert os.path.exists(lock)
    finally:
        release_table_lock(spark, p)
    assert not os.path.exists(lock), "release must delete the beaten lock"
    # and the table is immediately acquirable again
    acquire_table_lock(spark, p)
    release_table_lock(spark, p)
    assert not os.path.exists(lock)


def test_exclusive_create_has_one_winner_under_a_race(spark, tmp_path):
    """The lock primitive's create-if-absent must let exactly one of two
    racing creators win. On the local filesystem Hadoop's create checks
    and then opens, so without O_EXCL both threads could win and hold
    the same table lock at once."""
    import threading

    from callio_etl_spark import io as cio

    jvm, fs, _ = cio._hadoop(spark, str(tmp_path))
    for i in range(200):
        lock = str(tmp_path / f"race{i}.lock")
        start = threading.Barrier(2)
        wins = []

        def create(tag):
            start.wait()
            if cio._try_create_exclusive(jvm, fs, lock, content=tag):
                wins.append(tag)

        threads = [threading.Thread(target=create, args=(t,)) for t in "ab"]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
        assert len(wins) == 1, f"trial {i}: winners {wins}"
        with open(lock) as fh:
            assert fh.read() == wins[0]


def test_lock_release_respects_a_reclaimed_lock(spark, tmp_path):
    """If a reclaim somehow races the heartbeat (holder paused past the
    stale window), the original holder must NOT delete the new holder's
    lock on release: ownership is token-checked once a beat has fired,
    so split-brain never cascades into a second mutual-exclusion loss."""
    from callio_etl_spark import io as cio
    from callio_etl_spark.io import acquire_table_lock, release_table_lock

    p = str(tmp_path / "reclaim_t")
    lock = acquire_table_lock(spark, p, stale_s=0.8)
    rec = cio._LOCK_BEATS[lock]
    fired, mutex = rec["fired"], rec["mutex"]
    assert fired.wait(15), "heartbeat never fired"
    jvm, fs, _ = cio._hadoop(spark, p)
    with mutex:  # serialize with the beat: no in-flight write can revert us
        # a waiter's reclaim + re-acquire, through the FS API like a real
        # reclaimer (a Python open() write poisons the LocalFileSystem's
        # .crc sidecar and turns the token read into a checksum error)
        cio._delete(jvm, fs, lock)
        assert cio._try_create_exclusive(jvm, fs, lock, content="someone-else")
    time.sleep(0.45)  # next beat observes the foreign token and stops
    release_table_lock(spark, p)
    assert os.path.exists(lock), "release deleted a lock it no longer owned"
    with open(lock) as fh:
        assert fh.read() == "someone-else"
    os.remove(lock)


def test_lock_heartbeat_survives_transient_claim_window(spark, tmp_path):
    """r11 ADVICE fix (io.py beat error path): during a waiter's
    rename-claim window the lock file is momentarily ABSENT even though
    the holder is live. A heartbeat that fires inside that window must
    treat 'missing' as transient (the restore lands in milliseconds) and
    KEEP BEATING once the file is back — exiting would leave a restored
    lock with no heartbeat, falsely reclaimable after stale_s."""
    import threading

    from callio_etl_spark import io as cio
    from callio_etl_spark.io import acquire_table_lock, release_table_lock

    p = str(tmp_path / "claimwin_t")
    lock = acquire_table_lock(spark, p, stale_s=0.8)  # beat every 0.2 s
    rec = cio._LOCK_BEATS[lock]
    fired, mutex = rec["fired"], rec["mutex"]
    assert fired.wait(15), "heartbeat never fired"

    claim = lock + ".reclaim.testwin"
    mutex.acquire()
    try:
        os.rename(lock, claim)  # a waiter's claim: lock momentarily gone
        time.sleep(0.3)  # > beat interval: a beat is now queued on mutex
        restorer = threading.Thread(
            target=lambda: (time.sleep(0.03), os.rename(claim, lock))
        )
        restorer.start()
    finally:
        mutex.release()  # queued beat runs NOW, with the file absent
    restorer.join()

    # the beat observed the missing file mid-window and must still be
    # alive: age the lock artificially and watch the next beat refresh it
    time.sleep(0.3)
    old = time.time() - 7200
    os.utime(lock, (old, old))
    deadline = time.time() + 2.0  # up to ~10 beat intervals of slack
    while time.time() < deadline:
        if time.time() - os.path.getmtime(lock) < 60:
            break
        time.sleep(0.05)
    assert time.time() - os.path.getmtime(lock) < 60, (
        "heartbeat died after a transient missing-lock window: the lock "
        "would be falsely reclaimable after stale_s"
    )
    release_table_lock(spark, p)
    assert not os.path.exists(lock)


def test_lock_reclaim_restore_retries_on_transient_error(
    spark, tmp_path, monkeypatch
):
    """r11 ADVICE fix (io.py restore branch): when the staleness re-check
    finds the claimed lock FRESH (a live beat raced the claim), a
    transient error in the restore probe must RETRY the rename — the old
    code's except path deleted the just-verified-fresh claim, silently
    un-locking a live holder (the next acquirer then wins create-if-absent
    and two writers commit concurrently)."""
    import glob as _glob

    import pytest as _pytest

    from callio_etl_spark import io as cio
    from callio_etl_spark.io import LOCK_SUFFIX, acquire_table_lock

    p = str(tmp_path / "restore_t")
    lock = p + LOCK_SUFFIX
    with open(lock, "w") as fh:
        fh.write("live-holder-token")  # a live holder's lock, no local beat

    calls = {"mtime": 0, "exists": 0}
    real_exists = cio._exists

    def fake_mtime(jvm, fs, path):
        calls["mtime"] += 1
        if calls["mtime"] == 1:
            return time.time() - 9999  # outer stat: looks stale
        return time.time()  # claim re-check: FRESH (beat raced the claim)

    def fake_exists(jvm, fs, path):
        if path == lock:
            calls["exists"] += 1
            if calls["exists"] <= 2:
                raise IOError("transient FS error")
        return real_exists(jvm, fs, path)

    monkeypatch.setattr(cio, "_mtime_s", fake_mtime)
    monkeypatch.setattr(cio, "_exists", fake_exists)

    with _pytest.raises(TimeoutError):
        acquire_table_lock(spark, p, timeout_s=1.0, stale_s=1.0)
    # the FRESH claim was restored to the lock path, never deleted: the
    # live holder still holds, and no .reclaim.* strand is left behind
    assert os.path.exists(lock), (
        "a transient restore error deleted a fresh claim: live holder "
        "lost its lock"
    )
    with open(lock) as fh:
        assert fh.read() == "live-holder-token"
    assert _glob.glob(lock + ".reclaim.*") == []


def test_stale_lock_claim_strands_are_swept(spark, tmp_path):
    """r11 ADVICE fix: a .reclaim.* / .release.* claim file stranded by a
    failed delete (or a waiter that died mid-claim) is swept by the next
    commit's staging vacuum once older than LOCK_STALE_S; a fresh claim
    (an in-flight waiter's) is never touched."""
    from callio_etl_spark.io import LOCK_SUFFIX

    p = str(tmp_path / "sweep_t")
    _seed(spark, p, [(1, "a")], "id long, w string")
    stale_claim = p + LOCK_SUFFIX + ".reclaim.deadbeef"
    fresh_claim = p + LOCK_SUFFIX + ".release.cafebabe"
    # r12 ADVICE fix: a claim renamed from an ALREADY-STALE lock inherits
    # the stale mtime — only the creation timestamp in its name proves it
    # is an in-flight waiter's. Must survive the sweep despite aged mtime.
    inflight_from_stale = (
        p + LOCK_SUFFIX + f".reclaim.{int(time.time() * 1000)}.ab12cd34"
    )
    for f in (stale_claim, fresh_claim, inflight_from_stale):
        with open(f, "w"):
            pass
    two_hours_ago = time.time() - 2 * 3600
    os.utime(stale_claim, (two_hours_ago, two_hours_ago))
    os.utime(inflight_from_stale, (two_hours_ago, two_hours_ago))

    snapshot_overwrite(
        spark, spark.createDataFrame([(2, "b")], "id long, w string"), p
    )
    assert not os.path.exists(stale_claim), "aged claim strand not swept"
    assert os.path.exists(fresh_claim), "in-flight claim must be untouched"
    assert os.path.exists(inflight_from_stale), (
        "claim with fresh name-embedded creation time must survive the "
        "sweep even when its rename-inherited mtime is stale"
    )
    os.remove(fresh_claim)
    os.remove(inflight_from_stale)


def test_killed_lock_holder_process_is_reclaimed(spark, tmp_path):
    """VERDICT r10 item 4: a GENUINELY killed holder (kill -9 of a real
    subprocess holding the service lock through the real heartbeat, not
    a simulated reclaim). While the holder lives, its heartbeat keeps
    the lock unreclaimable past stale_s; after SIGKILL the beats stop,
    the mtime ages, a waiter reclaims, and the guarded table is fully
    usable — a tick that died before committing left nothing behind."""
    import os as _os
    import signal
    import subprocess
    import sys as _sys

    from callio_etl_spark.io import (
        SERVICE_LOCK_INFIX,
        LOCK_SUFFIX,
        acquire_table_lock,
        release_table_lock,
    )

    idx_path = str(tmp_path / "idx")
    lock_path = idx_path + SERVICE_LOCK_INFIX
    lock_file = lock_path + LOCK_SUFFIX

    holder_src = f"""
import sys, time
sys.path.insert(0, {repr(str(_os.getcwd()))})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "1")
    .getOrCreate()
)
from callio_etl_spark.io import acquire_table_lock
acquire_table_lock(spark, {repr(lock_path)}, stale_s=2.0)
print("ACQUIRED", flush=True)
time.sleep(3600)  # hold until killed
"""
    proc = subprocess.Popen(
        [_sys.executable, "-c", holder_src],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # own process group: SIGKILL takes the JVM too
        text=True,
    )
    try:
        line = proc.stdout.readline()
        assert "ACQUIRED" in line, f"holder never acquired (got {line!r})"
        assert os.path.exists(lock_file)

        # live holder: even past stale_s the real heartbeat (a thread in
        # the SUBPROCESS) keeps the lock fresh — a waiter must time out
        time.sleep(2.5)
        import pytest as _pytest

        with _pytest.raises(TimeoutError):
            acquire_table_lock(
                spark, lock_path, timeout_s=1.5, stale_s=2.0
            )
        assert os.path.exists(lock_file)
        assert time.time() - os.path.getmtime(lock_file) < 2.0, (
            "the subprocess heartbeat is not refreshing the lock"
        )

        # kill -9 the WHOLE holder group (python + its JVM): no release
        # runs, no beat survives
        _os.killpg(_os.getpgid(proc.pid), signal.SIGKILL)
        proc.wait(timeout=30)

        # the next waiter reclaims once the mtime ages past stale_s
        t0 = time.time()
        got = acquire_table_lock(spark, lock_path, timeout_s=30, stale_s=2.0)
        waited = time.time() - t0
        assert got == lock_file
        assert waited < 20, f"reclaim took {waited:.1f}s"
        release_table_lock(spark, lock_path)
        assert not os.path.exists(lock_file)

        # and the table the lock guards is fully usable: a real maintain
        # tick (which takes the same service lock) runs end to end
        from callio_etl_spark import snapshots as snap
        from callio_etl_spark.llm_ops.dedup_ops import maintain_band_index

        docs_p = str(tmp_path / "docs")
        snap.snapshot_partition_overwrite(
            spark,
            spark.createDataFrame(
                [(i, f"alpha beta w{i}", str(i % 2)) for i in range(6)],
                "doc_id long, text string, p string",
            ),
            docs_p,
            "p",
            keep_snapshots=5,
        )
        assert (
            maintain_band_index(spark, docs_p, idx_path)
            is not None
        )
        assert snap.snapshot_read(spark, idx_path).count() > 0
    finally:
        if proc.poll() is None:
            try:
                _os.killpg(_os.getpgid(proc.pid), signal.SIGKILL)
            except Exception:
                pass


def test_commit_fencing_blocks_a_reclaimed_writer(spark, tmp_path):
    """r11 fencing: a writer that stalled past the stale window and lost
    its lock to a reclaim must FAIL its publish (loud RuntimeError at
    the commit point) instead of tearing the new holder's commit; a
    writer whose token is intact publishes normally, and sub-interval
    holds (fired never set) skip the check entirely."""
    import pytest as _pytest

    from callio_etl_spark import io as cio
    from callio_etl_spark.io import (
        acquire_table_lock,
        assert_commit_fencing,
        release_table_lock,
    )

    p = str(tmp_path / "fence_t")
    lock = acquire_table_lock(spark, p, stale_s=0.8)
    rec = cio._LOCK_BEATS[lock]
    fired, mutex = rec["fired"], rec["mutex"]
    assert fired.wait(15), "heartbeat never fired"

    # token intact: the fence passes
    assert_commit_fencing(spark, p)

    # a reclaim re-owned the lock (through the FS API, like a real
    # reclaimer): the fence must refuse the publish. Age the record so
    # the wall-time gate reads the hold as reclaim-eligible (a real
    # steal only happens once the mtime aged past stale_s).
    jvm, fs, _ = cio._hadoop(spark, p)
    with mutex:
        cio._delete(jvm, fs, lock)
        assert cio._try_create_exclusive(
            jvm, fs, lock, content="new-holder-token"
        )
    rec["acquired_at"] -= 3600.0
    with _pytest.raises(RuntimeError, match="commit fencing"):
        assert_commit_fencing(spark, p)
    release_table_lock(spark, p)  # token-checked: leaves the new holder's
    assert os.path.exists(lock)
    os.remove(lock)

    # sub-interval hold: no beat has fired, the fence is a no-op
    lock2 = acquire_table_lock(spark, p)  # default stale_s: beat hours away
    assert_commit_fencing(spark, p)
    release_table_lock(spark, p)
    assert not os.path.exists(lock2)

    # unlocked path: fence is a no-op (caller manages safety)
    assert_commit_fencing(spark, str(tmp_path / "never_locked"))


def test_snapshot_commit_fenced_after_reclaim(spark, tmp_path, monkeypatch):
    """End to end through the real commit path: a snapshot writer whose
    lock is re-owned mid-commit (stolen deterministically inside the
    locked section, before the manifest publish) must abort at the
    commit point and leave the table at its pre-commit version."""
    import pytest as _pytest

    from callio_etl_spark import io as cio
    from callio_etl_spark import snapshots as snap

    p = str(tmp_path / "fence_snap")
    df = spark.createDataFrame([(1, "a")], "k long, d string")
    v1 = snap.snapshot_partition_overwrite(spark, df, p, "d", keep_snapshots=5)

    lock = p + cio.LOCK_SUFFIX
    stolen = {"done": False}
    orig_vac = snap._vacuum_stale_stagings

    def stealing_vac(jvm, fs, path_):
        # runs INSIDE the writer's locked section, before the manifest
        # publish: replace the lock with a reclaimer's (through the FS
        # API, like a real reclaim) and age the holder's record so the
        # fence's wall-time gate reads the hold as reclaim-eligible
        orig_vac(jvm, fs, path_)
        rec = cio._LOCK_BEATS.get(lock)
        if rec is not None and not stolen["done"]:
            with rec["mutex"]:
                cio._delete(jvm, fs, lock)
                assert cio._try_create_exclusive(
                    jvm, fs, lock, content="reclaimer"
                )
                rec["acquired_at"] -= 3600.0
            stolen["done"] = True

    monkeypatch.setattr(snap, "_vacuum_stale_stagings", stealing_vac)
    try:
        with _pytest.raises(RuntimeError, match="commit fencing"):
            snap.snapshot_partition_overwrite(
                spark,
                spark.createDataFrame([(2, "a")], "k long, d string"),
                p,
                "d",
                keep_snapshots=5,
            )
    finally:
        if os.path.exists(lock):
            os.remove(lock)
    assert stolen["done"], "the steal never ran inside the locked section"

    # the table still reads at its pre-commit content
    assert snap.snapshot_versions(spark, p)[-1] == v1
    assert [r["k"] for r in snap.snapshot_read(spark, p).collect()] == [1]


def test_service_fencing_blocks_a_reclaimed_maintainer(spark, tmp_path):
    """r11: the SERVICE-lock twin of commit fencing — a maintainer that
    stalled past the stale window and lost its service lock must abort
    (the maintain/rebuild paths call assert_service_fencing before
    committing index state); young holds and intact tokens pass."""
    import pytest as _pytest

    from callio_etl_spark import io as cio
    from callio_etl_spark.io import (
        acquire_service_lock,
        assert_service_fencing,
        release_service_lock,
    )

    idx = str(tmp_path / "idx")
    lock = acquire_service_lock(spark, idx)
    rec = cio._LOCK_BEATS[lock]
    assert_service_fencing(spark, idx)  # young hold: no-op

    jvm, fs, _ = cio._hadoop(spark, idx)
    with rec["mutex"]:
        cio._delete(jvm, fs, lock)
        assert cio._try_create_exclusive(jvm, fs, lock, content="reclaimer")
    rec["acquired_at"] -= 3600.0
    with _pytest.raises(RuntimeError, match="commit fencing"):
        assert_service_fencing(spark, idx)
    release_service_lock(spark, idx)  # token-checked: leaves the file
    assert os.path.exists(lock)
    os.remove(lock)


def test_service_lock_default_timeout_is_tick_sized(spark, tmp_path, monkeypatch):
    """r14 review: the tick-sized wait (LOCK_STALE_S + LOCK_TIMEOUT_S)
    is acquire_service_lock's DEFAULT, so bare callers — the band/vector
    index maintainers queueing behind a long rebuild of the same index —
    inherit it instead of the 120 s commit default (which raised the
    same spurious TimeoutError ADVICE r13 flagged for the update_log).
    An explicit timeout_s still wins."""
    from callio_etl_spark import io as cio

    seen: dict[str, float | None] = {}
    real = cio.acquire_table_lock

    def spy(spark_, path, *a, **kw):
        seen["timeout_s"] = kw.get("timeout_s")
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(cio, "acquire_table_lock", spy)
    p = str(tmp_path / "svc_tbl")
    cio.acquire_service_lock(spark, p)
    cio.release_service_lock(spark, p)
    assert seen["timeout_s"] == cio.LOCK_STALE_S + cio.LOCK_TIMEOUT_S
    cio.acquire_service_lock(spark, p, timeout_s=5.0)
    cio.release_service_lock(spark, p)
    assert seen["timeout_s"] == 5.0
    # ADVICE r14: a caller widening stale_s without timeout_s must get a
    # default wide enough to outlive a dead holder's reclaim window —
    # the default derives from the EFFECTIVE stale window, not the
    # module constant.
    wide = cio.LOCK_STALE_S * 3
    cio.acquire_service_lock(spark, p, stale_s=wide)
    cio.release_service_lock(spark, p)
    assert seen["timeout_s"] == wide + cio.LOCK_TIMEOUT_S
