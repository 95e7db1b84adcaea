"""Two-tick incremental protocol tests (FIXTURES.md B4; SURVEY section 5.3):
idempotency via row_hash guard, checkpoint monotonicity, update/skip/insert
MERGE arms, audit-log modes."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from callio_etl_spark.checkpoints import CheckpointStore
from callio_etl_spark.flatten import flatten_customer
from callio_etl_spark.pipeline import IncrementalTable, run_tick
from callio_etl_spark.snapshots import snapshot_read

SCHEMA = (
    "_id string, assignedTime long, createTime long, updateTime long,"
    " name string, phone string,"
    " user struct<_id:string, name:string, group:struct<_id:string>>,"
    " customFields array<struct<key:string, val:string>>"
)

T0 = 1704067200000  # 2024-01-01 UTC
HOUR = 3_600_000


def _raw(_id, update_ms, phone):
    return {
        "_id": _id,
        "assignedTime": T0,
        "createTime": T0,
        "updateTime": update_ms,
        "name": f"name-{_id}",
        "phone": phone,
        "user": {"_id": "u1", "name": "A", "group": {"_id": "g1"}},
        "customFields": [{"key": "tinh-trang-kh", "val": "bận"}],
    }


@pytest.fixture()
def store(spark, tmp_path):
    return CheckpointStore(spark, str(tmp_path / "update_log"), overlap_ms=HOUR)


TABLE = IncrementalTable(name="Customer", keys=["tenant", "_id"], time_col_ms="updateTime")


def _tick(spark, store, path, batch, now):
    """One durable tick of ``batch`` into the snapshot table at ``path``,
    partitioned by the update date (an update can move a key's date)."""
    return run_tick(
        spark, store, TABLE, path, "NgayUpdate", lambda cutoff: batch, "PK", 3,
        now_ms=now,
    )


def test_two_tick_update_skip_insert(spark, store, tmp_path):
    now = T0 + 10 * HOUR
    path = str(tmp_path / "customer")
    # tick 1: three rows
    b1 = flatten_customer(
        spark.createDataFrame(
            [_raw("a", T0 + HOUR, "1"), _raw("b", T0 + HOUR, "2"), _raw("c", T0 + HOUR, "3")],
            SCHEMA,
        ),
        "PK",
    )
    ck1 = _tick(spark, store, path, b1, now)
    assert ck1 == T0 + HOUR
    assert snapshot_read(spark, path).count() == 3

    # tick 2 overlaps: row a changed (phone), row b touched-but-identical
    # content with newer ts, row d new; row c not re-sent.
    b2 = flatten_customer(
        spark.createDataFrame(
            [
                _raw("a", T0 + 2 * HOUR, "1-changed"),
                _raw("b", T0 + 2 * HOUR, "2"),
                _raw("d", T0 + 2 * HOUR, "4"),
            ],
            SCHEMA,
        ),
        "PK",
    )
    ck2 = _tick(spark, store, path, b2, now)

    rows = {r["_id"]: r for r in snapshot_read(spark, path).collect()}
    assert set(rows) == {"a", "b", "c", "d"}  # c kept, d inserted
    assert rows["a"]["phone"] == "1-changed"  # updated (hash differs)
    assert rows["b"]["updateTime"] == T0 + 2 * HOUR  # newer ts wins even if same content
    assert ck2 == T0 + 2 * HOUR  # checkpoint advanced monotonically
    assert store.get("customer", "PK") == ck2  # lowercased lookup works


def test_replay_is_idempotent(spark, store, tmp_path):
    now = T0 + 10 * HOUR
    path = str(tmp_path / "customer")
    batch = flatten_customer(
        spark.createDataFrame([_raw("a", T0 + HOUR, "1"), _raw("b", T0 + HOUR, "2")], SCHEMA),
        "PK",
    )
    _tick(spark, store, path, batch, now)
    want = sorted(
        (r["_id"], r["phone"], r["row_hash"]) for r in snapshot_read(spark, path).collect()
    )
    # replay the SAME batch (overlap re-read): nothing may change
    _tick(spark, store, path, batch, now)
    m2 = snapshot_read(spark, path)
    got = sorted((r["_id"], r["phone"], r["row_hash"]) for r in m2.collect())
    assert got == want
    assert m2.count() == 2


def test_noop_and_log_modes(spark, store, tmp_path):
    now = T0 + 10 * HOUR
    path = str(tmp_path / "customer")
    batch = flatten_customer(
        spark.createDataFrame([_raw("a", T0 + HOUR, "1")], SCHEMA), "PK"
    )
    ck1 = _tick(spark, store, path, batch, now)
    # everything older than checkpoint-overlap -> NOOP, checkpoint unchanged
    ck2 = _tick(spark, store, path, batch.where("_id = 'zzz'"), now)
    assert ck2 is None
    assert store.get("customer", "PK") == ck1

    log = snapshot_read(spark, store.log_path)
    modes = {r["mode"] for r in log.collect()}
    assert modes == {"MERGED", "NOOP"}

    # warm() from the log reproduces the cache (C1)
    fresh = CheckpointStore(spark, store.log_path)
    fresh.warm()
    assert fresh.get("customer", "PK") == ck1


def test_local_flush_starts_no_spark_job(spark, store):
    """A flush on a local log path is one whole-table snapshot_append
    commit whose rows pyarrow stages on the driver: no Spark job (a job
    costs a fixed ~0.5 s per flushed tick). Counted as the delta of the
    status tracker's job ids around the flush."""
    tracker = spark.sparkContext.statusTracker()

    def job_ids():
        spark.sparkContext.setJobGroup("flush-probe", "flush job count")
        return set(tracker.getJobIdsForGroup("flush-probe"))

    store.log("t1", "PK", 1, 1000, "MERGED")
    store.flush()  # the first flush creates the table
    before = job_ids()
    try:
        store.log("t1", "PK", 2, 2000, "MERGED")
        store.flush()
        assert set(tracker.getJobIdsForGroup("flush-probe")) == before
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert not store._buffer, "flush did not clear the buffer"
    fresh = CheckpointStore(spark, store.log_path)
    fresh.warm()
    assert fresh.get("t1", "PK") == 2000


def test_flush_local_fastpath_byte_parity_with_spark_writer(spark, store):
    """The update_log holds data dirs staged two ways: pyarrow on the
    driver (a flush on a local path) and Spark's writer (a DataFrame
    append, and every flush on a non-local filesystem). Both must read
    back identically through snapshot_read and through a
    schema-inferring read of the data dirs themselves, timestamps and
    NULLs intact."""
    import datetime as dt

    from callio_etl_spark.checkpoints import UPDATE_LOG_SCHEMA
    from callio_etl_spark.snapshots import snapshot_append, snapshot_manifest

    # one Spark-staged leaf, then two pyarrow-staged rows, one with a
    # NULL checkpoint
    snapshot_append(
        spark,
        spark.createDataFrame(
            [("t1", "PK", dt.datetime(2024, 1, 1, 12, 0, 0), 5, 1000, "MERGED")],
            UPDATE_LOG_SCHEMA,
        ),
        store.log_path,
        None,
    )
    store.log("t1", "PK", 7, None, "NOOP")
    store.log("t2", "VN", 0, 2000, "ERROR_LOGIN")
    store.flush()
    assert not store._buffer, "flush did not clear the buffer"

    want = {
        ("t1", "PK", True, 5, 1000, "MERGED"),
        ("t1", "PK", True, 7, None, "NOOP"),
        ("t2", "VN", True, 0, 2000, "ERROR_LOGIN"),
    }

    def rows(df):
        return {
            (r["table_name"], r["tenant"], r["updated_at"] is not None,
             r["rows_loaded"], r["max_update_ms"], r["mode"])
            for r in df.collect()
        }

    got = snapshot_read(spark, store.log_path)
    assert got.schema == UPDATE_LOG_SCHEMA
    assert rows(got) == want
    # schema-inferring read over both data dirs agrees with the declared
    # schema (no NTZ drift, no int32 narrowing)
    m = snapshot_manifest(spark, store.log_path)
    dirs = [
        f"{store.log_path}/{leaf}/{tok}"
        for leaf, toks in m["partitions"].items()
        for tok in toks
    ]
    assert len(dirs) == 2
    inferred = spark.read.parquet(*dirs)
    assert inferred.schema == UPDATE_LOG_SCHEMA
    assert rows(inferred) == want
    # warm() folds the pyarrow-staged rows back
    fresh = CheckpointStore(spark, store.log_path)
    fresh.warm()
    assert fresh.get("t2", "VN") == 2000


def test_flush_fastpath_follows_default_fs_scheme(spark, tmp_path):
    """A scheme-less log path resolves against ``fs.defaultFS``: on a
    cluster whose default filesystem is HDFS, a driver-side pyarrow
    write would land on the driver's local disk, where warm() and
    compact() never look. With no namenode here, a viewfs default FS
    mounted onto a local dir stands in for it: the flush must stage
    through Spark, land under the mount, and write nothing at the
    scheme-less path on the driver's disk."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    remote, mounted = tmp_path / "remote", tmp_path / "mounted"
    link = f"fs.viewfs.mounttable.c.link.{remote}"
    old = conf.get("fs.defaultFS")
    conf.set(link, f"file://{mounted}")
    conf.set("fs.defaultFS", "viewfs://c/")
    try:
        store = CheckpointStore(spark, f"{remote}/update_log")
        store.log("t", "PK", 1, 1, "MERGED")
        store.flush()
        fresh = CheckpointStore(spark, store.log_path)
        fresh.warm()
        assert fresh.get("t", "PK") == 1
    finally:
        if old is None:
            conf.unset("fs.defaultFS")
        else:
            conf.set("fs.defaultFS", old)
        conf.unset(link)
    assert not remote.exists(), "the flush wrote to the driver's disk"
    assert (mounted / "update_log" / "__snap__").is_dir()


def test_checkpoint_table_name_normalization(spark, store):
    """Reference _normalize_table parity (checkpoints.py:83-85): strip,
    lowercase, '-'/' ' -> '_', applied on set/get/log/warm — 'Call-Log ' and
    'call_log' must hit the same checkpoint key."""
    store.set(" Call-Log ", "PK", 123)
    assert store.get("call_log", "PK") == 123
    assert store.get("CALL LOG", "PK") == 123
    store.log("Call-Log", "PK", 1, 456, "MERGED")
    store.flush()
    fresh = type(store)(spark=spark, log_path=store.log_path)
    fresh.warm()
    assert fresh.get("call_log", "PK") == 456


def test_checkpoint_warm_propagates_non_missing_errors(spark, tmp_path):
    """Only the missing-log cold start is swallowed; a corrupt log file must
    raise, not silently reset every checkpoint to the lookback window."""
    import pytest

    from callio_etl_spark.checkpoints import CheckpointStore

    missing = CheckpointStore(spark=spark, log_path=str(tmp_path / "nope"))
    missing.warm()  # cold start: no error, empty cache
    assert missing.get("t", "x") is None

    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("this is not parquet")
    broken = CheckpointStore(spark=spark, log_path=str(bad))
    with pytest.raises(Exception):
        broken.warm()


def test_merge_write_rejects_out_of_window_source(spark, tmp_path):
    """ADVICE: a source row outside [part_min, part_max] would land in a
    partition excluded from the windowed target, and the partition
    overwrite would then clobber that partition's pre-existing rows. The
    windowed merge_write_snapshot must refuse before committing anything;
    in-window sources must merge and leave sibling partitions untouched."""
    import pytest

    from callio_etl_spark.merge import MergeSpec, merge_write_snapshot
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_versions,
    )

    path = str(tmp_path / "fact")
    target = spark.createDataFrame(
        [("2024-01-01", 1, "old"), ("2024-01-02", 2, "keep"), ("2024-01-03", 3, "other-part")],
        "d string, k long, v string",
    )
    snapshot_partition_overwrite(spark, target, path, "d")

    def rows():
        return {(r["d"], r["k"]): r["v"] for r in snapshot_read(spark, path).collect()}

    spec = MergeSpec(keys=["k"])
    # out-of-window source rows -> refuse before any write happens: one
    # past the window, one BETWEEN-window NULL partition value
    strays = [
        spark.createDataFrame([("2024-01-03", 3, "clobber")], "d string, k long, v string"),
        spark.createDataFrame([(None, 4, "null-part")], "d string, k long, v string"),
    ]
    for stray in strays:
        with pytest.raises(ValueError, match="outside the merge window"):
            merge_write_snapshot(spark, path, stray, spec, partition_col="d",
                                 part_min="2024-01-01", part_max="2024-01-02")
    assert rows()[("2024-01-03", 3)] == "other-part"  # untouched
    assert snapshot_versions(spark, path) == [1]  # nothing committed

    # in-window source: update k=1, insert k=9, keep k=2, never touch 01-03
    src = spark.createDataFrame(
        [("2024-01-01", 1, "new"), ("2024-01-02", 9, "ins")], "d string, k long, v string"
    )
    merge_write_snapshot(spark, path, src, spec, partition_col="d",
                         part_min="2024-01-01", part_max="2024-01-02")
    assert rows() == {
        ("2024-01-01", 1): "new",
        ("2024-01-02", 2): "keep",
        ("2024-01-02", 9): "ins",
        ("2024-01-03", 3): "other-part",
    }


@pytest.mark.parametrize(
    "window",
    [{"part_values": ["a", "c"]}, {"part_min": "a", "part_max": "c"}, {}],
    ids=["set", "range", "none"],
)
def test_merge_write_snapshot_moved_key_drops_emptied_leaf(spark, tmp_path, window):
    """A key that alone holds partition 'a' moves to 'c'. Under every
    window form (set, range, none) the merge leaves it once, drops the
    leaf it emptied in the same commit, and publishes one version; the
    NULL-partition row, which no window holds, survives."""
    from callio_etl_spark.merge import MergeSpec, merge_write_snapshot
    from callio_etl_spark.snapshots import (
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_versions,
    )

    path = str(tmp_path / "t")
    schema = "k long, p string, v string"
    snapshot_partition_overwrite(
        spark,
        spark.createDataFrame([(1, "a", "v1"), (2, "b", "v1"), (3, None, "v1")], schema),
        path,
        "p",
        keep_snapshots=5,
    )
    src = spark.createDataFrame([(1, "c", "v2")], schema)
    merge_write_snapshot(spark, path, src, MergeSpec(keys=["k"]), "p", keep_snapshots=5, **window)

    got = sorted(tuple(r) for r in snapshot_read(spark, path).select("k", "p", "v").collect())
    assert got == [(1, "c", "v2"), (2, "b", "v1"), (3, None, "v1")]
    leaves = set(snapshot_manifest(spark, path)["partitions"])
    assert leaves == {"p=b", "p=c", "p=__HIVE_DEFAULT_PARTITION__"}
    assert snapshot_versions(spark, path) == [1, 2]


def test_merge_write_snapshot_range_keeps_leaves_it_cannot_judge(spark, tmp_path):
    """String bounds on a numeric partition column: Spark compares the
    column numerically, so p=10 is outside ['1', '5'] and never read;
    the retire list must not judge it by string order (where '10' lies
    between '1' and '5') and drop its rows unread."""
    from callio_etl_spark.merge import MergeSpec, merge_write_snapshot
    from callio_etl_spark.snapshots import snapshot_partition_overwrite

    path = str(tmp_path / "t")
    schema = "k long, p int, v string"
    snapshot_partition_overwrite(
        spark, spark.createDataFrame([(1, 2, "v1"), (2, 10, "v1")], schema), path, "p"
    )
    src = spark.createDataFrame([(1, 3, "v2")], schema)
    merge_write_snapshot(spark, path, src, MergeSpec(keys=["k"]), "p", part_min="1", part_max="5")
    got = sorted(tuple(r) for r in snapshot_read(spark, path).select("k", "p", "v").collect())
    assert (2, 10, "v1") in got


def test_merge_upsert_null_key_rows_survive(spark):
    """ADVICE: side presence is detected via marker columns, not key
    nullness — a target-only row whose merge key is NULL must keep its data,
    and a null-null matched pair must route through the matched arm."""
    from callio_etl_spark.merge import MergeSpec, merge_upsert

    target = spark.createDataFrame(
        [(None, "t-null", 1), (1, "t-one", 1)], "k long, v string, n long"
    )
    # no source row for NULL: target-only with NULL key
    source = spark.createDataFrame([(1, "s-one", 2)], "k long, v string, n long")
    out = {r["k"]: r for r in merge_upsert(target, source, MergeSpec(keys=["k"])).collect()}
    assert out[None]["v"] == "t-null" and out[None]["n"] == 1  # data NOT wiped
    assert out[1]["v"] == "s-one"

    # null-null matched pair: keep_existing must read the TARGET value
    target2 = spark.createDataFrame([(None, "t-val", 7)], "k long, v string, n long")
    source2 = spark.createDataFrame([(None, "s-val", 8)], "k long, v string, n long")
    spec2 = MergeSpec(keys=["k"], keep_existing=["v"])
    got = merge_upsert(target2, source2, spec2).collect()
    assert len(got) == 1
    assert got[0]["v"] == "t-val"  # IFNULL(T.v, S.v) keeps existing
    assert got[0]["n"] == 8  # non-keep column takes source


def test_update_log_compaction_bounds_files_and_keeps_checkpoints(
    spark, store, tmp_path
):
    """r12: the update_log gains one parquet file per flushed tick
    forever; compact() bounds it to newest-N audit rows per key PLUS
    each key's checkpoint row (max max_update_ms) — which must survive
    even when a long run of NOOP ticks pushes it past the audit window —
    and a fresh store's warm() sees identical checkpoints after. Files
    are counted on the live snapshot (what every warm() scans)."""
    from callio_etl_spark.checkpoints import CheckpointStore

    def live_files():
        return len(snapshot_read(spark, store.log_path).inputFiles())

    # 8 flushed ticks for TableA: one MERGED advance to T0+5h, then 7
    # NOOP audit rows carrying a STALE watermark (T0+1h) — newer by
    # updated_at, lower by max_update_ms, so the true checkpoint row is
    # the OLDEST row and only the union branch can save it; TableB gets
    # one MERGED row per tick (advancing checkpoint)
    for i in range(8):
        if i == 0:
            store.log("TableA", "PK", 100, T0 + 5 * HOUR, "MERGED")
        else:
            store.log("TableA", "PK", 0, T0 + 1 * HOUR, "NOOP")
        store.log("Table-B", "PK", 10 + i, T0 + i * HOUR, "MERGED")
        store.flush()
    files_before = live_files()
    assert files_before >= 8, "precondition: one file per flush"

    warm_before = CheckpointStore(spark, store.log_path)
    warm_before.warm()
    kept = store.compact(keep_rows_per_key=3)
    # per key: 3 audit rows; TableA's checkpoint row (the i==0 MERGED,
    # OLDER than the 3 newest NOOPs) must be the +1
    assert kept == 7, f"retained {kept}, want 3+1 (TableA) + 3 (Table-B)"
    files_after = live_files()
    assert files_after < files_before

    warm_after = CheckpointStore(spark, store.log_path)
    warm_after.warm()
    for key in (("tablea", "PK"), ("table_b", "PK")):
        assert warm_after._cache[key] == warm_before._cache[key], key
    # the preserved TableA checkpoint row is the MERGED one
    rows = snapshot_read(spark, store.log_path).where(
        "table_name = 'tablea' and mode = 'MERGED'"
    ).collect()
    assert len(rows) == 1 and rows[0]["max_update_ms"] == T0 + 5 * HOUR

    # compacting an absent log is a no-op, not a crash
    empty = CheckpointStore(spark, str(tmp_path / "nolog"))
    assert empty.compact() == 0


def test_update_log_opportunistic_compaction_threshold(spark, store):
    """r12: compact_if_needed is a per-tick cheap probe — below the file
    threshold it does nothing; above it, one compaction runs and the
    warmed checkpoints are unchanged."""
    from callio_etl_spark.checkpoints import CheckpointStore

    for i in range(5):
        store.log("TableA", "PK", 1, T0 + i * HOUR, "MERGED")
        store.flush()
    assert store.compact_if_needed(max_files=100) is None, (
        "compacted below the threshold"
    )
    kept = store.compact_if_needed(max_files=2, keep_rows_per_key=2)
    assert kept == 2  # newest 2; the max row IS the newest here
    after = CheckpointStore(spark, store.log_path)
    after.warm()
    assert after._cache[("tablea", "PK")] == T0 + 4 * HOUR
    # absent log: no-op
    assert (
        CheckpointStore(spark, store.log_path + "_none").compact_if_needed()
        is None
    )


def test_flush_vs_compact_never_loses_rows(spark, store):
    """r13: compact() is SELF-FENCING — the read-plan-swap and every
    flush() append serialize on the update_log's service lock, so a
    compaction racing a concurrent tick's audit append can never
    displace the appended rows (the r12 version only documented this
    hazard as caller discipline). With keep_rows_per_key far above the
    row count, NO row may ever be dropped — any loss here is the race."""
    import threading

    from callio_etl_spark.checkpoints import CheckpointStore

    n_ticks, errors, compactions = 8, [], []
    done = threading.Event()

    def flusher():
        try:
            for i in range(n_ticks):
                store.log("TableA", "PK", 1, T0 + i * HOUR, "MERGED")
                store.flush()
        except Exception as exc:  # surfaced below — threads swallow raises
            errors.append(exc)
        finally:
            done.set()

    def compactor():
        try:
            # bounded: each locked compact alternates with ~1 flush, so a
            # handful of rounds covers every interleaving class
            while not done.is_set() and len(compactions) < 4:
                compactions.append(store.compact(keep_rows_per_key=10_000))
        except Exception as exc:
            errors.append(exc)

    threads = [
        threading.Thread(target=flusher),
        threading.Thread(target=compactor),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert compactions, "compactor never got a turn"
    n = snapshot_read(spark, store.log_path).count()
    assert n == n_ticks, f"lost {n_ticks - n} audit rows to the race"
    after = CheckpointStore(spark, store.log_path)
    after.warm()
    assert after._cache[("tablea", "PK")] == T0 + (n_ticks - 1) * HOUR


def test_audit_mode_vocabulary_emitted_from_triggers(spark, store, tmp_path):
    """r13: the reference's full C5 mode vocabulary lands from its real
    triggers (runner.py:90/144/312/412/536) — ERROR_LOGIN on a failed
    login (checkpoint HELD), STAGED on the staging landing (no
    checkpoint), APPEND on the call-log append (carrying the NEW
    checkpoint), TRUNCATE on the dim snapshot replace, NOOP on an empty
    staging batch."""
    from callio_etl_spark.pipeline import (
        append_tick,
        auth_guard,
        snapshot_truncate,
        stage_batch,
    )

    def bad_login():
        raise RuntimeError("401 bad credentials")

    assert auth_guard(store, "call-log", "T9", bad_login) is None
    assert store.get("call-log", "T9") is None, "failed login advanced ck"
    # falsy token (the reference's get_token returns None) also audits
    assert auth_guard(store, "call-log", "T8", lambda: None) is None
    # success path passes the token through, no audit row
    assert auth_guard(store, "call-log", "T7", lambda: "tok-1") == "tok-1"

    batch = spark.createDataFrame(
        [("a", T0 + HOUR, "T1"), ("b", T0 + 2 * HOUR, "T1")],
        "id string, ts_ms long, tenant string",
    )
    assert stage_batch(store, "customer", "T1", batch, str(tmp_path / "stg")) == 2
    assert store.get("customer", "T1") is None, "staging advanced ck"
    assert stage_batch(store, "customer", "T2", batch.limit(0), str(tmp_path / "stg")) == 0

    table = IncrementalTable(name="call-log", keys=["tenant", "id"], time_col_ms="ts_ms")
    new_ck = append_tick(spark, store, table, batch, str(tmp_path / "cl"), "T1")
    assert new_ck == T0 + 2 * HOUR
    assert store.get("call-log", "T1") == T0 + 2 * HOUR
    assert snapshot_read(spark, str(tmp_path / "cl")).count() == 2
    # an older replay never rewinds the checkpoint (reference runner.py:310)
    old = spark.createDataFrame([("c", T0, "T1")], "id string, ts_ms long, tenant string")
    append_tick(spark, store, table, old, str(tmp_path / "cl"), "T1")
    assert store.get("call-log", "T1") == T0 + 2 * HOUR

    snapshot_truncate(spark, store, "group", batch, str(tmp_path / "grp"))
    store.flush()

    log = {
        (r["table_name"], r["tenant"], r["mode"]): r
        for r in snapshot_read(spark, store.log_path).collect()
    }
    assert log[("call_log", "T9", "ERROR_LOGIN")]["rows_loaded"] == 0
    assert log[("call_log", "T9", "ERROR_LOGIN")]["max_update_ms"] is None
    assert ("call_log", "T7", "ERROR_LOGIN") not in log, "success audited"
    assert log[("customer", "T1", "STAGED")]["rows_loaded"] == 2
    assert log[("customer", "T1", "STAGED")]["max_update_ms"] is None
    assert log[("customer", "T2", "NOOP")]["rows_loaded"] == 0
    appends = [
        r for (t, ten, m), r in log.items()
        if m == "APPEND" and ten == "T1"
    ]
    assert {r["max_update_ms"] for r in appends} == {T0 + 2 * HOUR}, (
        "APPEND audit rows must carry the (never-rewinding) checkpoint"
    )
    assert log[("group", "ALL", "TRUNCATE")]["rows_loaded"] == 2
    assert log[("group", "ALL", "TRUNCATE")]["max_update_ms"] is None
    # a fresh warm() folds only the real watermarks back
    from callio_etl_spark.checkpoints import CheckpointStore

    after = CheckpointStore(spark, store.log_path)
    after.warm()
    assert after.get("call-log", "T1") == T0 + 2 * HOUR
    assert after.get("call-log", "T9") is None


def test_compact_retention_over_mixed_mode_history(spark, store):
    """r13: compaction over a history mixing ALL modes keeps the
    checkpoint row (the max-watermark MERGED/APPEND row) even when a
    long run of NOOP/ERROR_LOGIN rows ages it past the audit window."""
    from callio_etl_spark.checkpoints import CheckpointStore

    store.log("call-log", "T1", 50, T0 + 3 * HOUR, "APPEND")  # the checkpoint
    store.log("customer", "T1", 9, None, "STAGED")
    store.log("group", "ALL", 25, None, "TRUNCATE")
    store.flush()
    for i in range(6):  # age the APPEND row out of the audit window
        store.log("call-log", "T1", 0, None, "ERROR_LOGIN")
        store.log("call-log", "T1", 0, T0 + HOUR, "NOOP")
        store.flush()
    before = CheckpointStore(spark, store.log_path)
    before.warm()
    store.compact(keep_rows_per_key=2)
    after = CheckpointStore(spark, store.log_path)
    after.warm()
    assert after.get("call-log", "T1") == before.get("call-log", "T1") == T0 + 3 * HOUR
    kept = snapshot_read(spark, store.log_path)
    assert kept.where("mode = 'APPEND'").count() == 1, "checkpoint row dropped"
    # the mode-free keys keep their newest audit rows too
    assert kept.where("table_name = 'group'").count() == 1


def test_plain_parquet_update_log_is_refused(spark, tmp_path):
    """A plain parquet update_log (the layout before the log became a
    snapshot table) must make warm(), flush() and compact() raise with
    the path and the migration: read as "no snapshot", every checkpoint
    would silently cold-start to the 30-day lookback. The same holds for
    the whole log left under the ``.__backup__`` sibling by a crashed
    rename swap of that layout. Nothing is written to either path."""
    import datetime as dt
    import os

    from callio_etl_spark.checkpoints import UPDATE_LOG_SCHEMA

    row = [("t", "PK", dt.datetime(2024, 1, 1), 5, T0, "MERGED")]
    plain = str(tmp_path / "plain_log")
    spark.createDataFrame(row, UPDATE_LOG_SCHEMA).write.parquet(plain)
    torn = str(tmp_path / "torn_log")
    spark.createDataFrame(row, UPDATE_LOG_SCHEMA).write.parquet(
        torn + ".__backup__"
    )
    for path in (plain, torn):
        before = sorted(os.listdir(tmp_path))
        store = CheckpointStore(spark, path)
        store.log("t", "PK", 1, T0 + HOUR, "MERGED")
        for step in (store.warm, store.flush, store.compact):
            with pytest.raises(RuntimeError, match="plain parquet table") as exc:
                step()
            assert path in str(exc.value)
            assert "spark.read.parquet" in str(exc.value)
            assert "snapshot_overwrite" in str(exc.value)
        assert store.get("t", "PK") is None
        assert sorted(os.listdir(tmp_path)) == before
        assert not os.path.exists(f"{path}/__snap__")


def test_update_log_lock_waits_tick_sized_not_commit_sized(
    spark, store, monkeypatch
):
    """ADVICE r13 (r14 fix): flush()/warm()/compact() wait on the
    update_log's SERVICE lock, whose holder may be a whole compact of a
    ~100k-file log — acquire_service_lock's contract says waiters need a
    tick-sized timeout (LOCK_STALE_S + LOCK_TIMEOUT_S, as
    single_writer_tick passes), not the 120 s commit default that would
    raise a spurious TimeoutError and fail the tick."""
    from callio_etl_spark import io as cio

    expected = cio.LOCK_STALE_S + cio.LOCK_TIMEOUT_S
    seen: list[tuple[str, float | None]] = []
    real = cio.acquire_table_lock

    def spy(spark_, path, *a, **kw):
        if cio.SERVICE_LOCK_INFIX in path:
            seen.append((path, kw.get("timeout_s")))
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(cio, "acquire_table_lock", spy)

    store.log("Customer", "PK", 1, T0, "MERGED")
    store.flush()           # append under the service lock
    store.compact(1)        # whole-table overwrite under the service lock
    assert len(seen) == 2, f"service-lock acquires not seen: {seen}"
    # warm() reads one published manifest and takes no lock at all
    missing = CheckpointStore(spark, store.log_path + "_missing")
    missing.warm()
    CheckpointStore(spark, store.log_path).warm()
    assert len(seen) == 2, f"warm() took the service lock: {seen}"
    bad = [(p, t) for p, t in seen if t != expected]
    assert not bad, (
        f"service-lock waits must pass timeout_s={expected}: {bad}"
    )
