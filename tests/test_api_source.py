"""Custom paginated-API DataSource (SURVEY S1-S4, S7 as a native source).

Covers the planner (proactive bisection), the token cache (TTL + forced
refresh), the reader's early stop / first-wins keying / result-window
resume as plain Python, and the end-to-end Spark read with partition
parallelism and schema projection.
"""

from __future__ import annotations

import json

import pytest

from callio_etl_spark.sources.paged_api import (
    DEFAULT_SCHEMA,
    CallioPagedDataSource,
    JsonlApiTransport,
    PagedApiReader,
    ResultWindowTooLarge,
    TokenCache,
    plan_slices,
)

HOUR = 60 * 60 * 1000
DAY = 24 * HOUR


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(path)


def _mk_rows(n, start_ms, step_ms, prefix="r"):
    return [
        {
            "_id": f"{prefix}{i}",
            "ts_ms": start_ms + i * step_ms,
            "user_id": i % 7,
            "event_type": "call" if i % 2 else "sms",
            "value": f"v{i}",
        }
        for i in range(n)
    ]


# ---------------------------------------------------------------- planner


def test_plan_slices_backward_walk_covers_range_without_overlap():
    calls = []

    def count(a, b):
        calls.append((a, b))
        return 10  # under any window: no splitting

    got = plan_slices(count, cutoff_ms=0, window_end_ms=3 * DAY,
                      slice_ms=DAY, min_slice_ms=HOUR, result_window=100)
    # newest-first fixed-width walk, closed ranges, disjoint, full coverage
    assert got[0][1] == 3 * DAY and got[-1][0] == 0
    for (s1, e1), (s2, e2) in zip(got, got[1:]):
        assert s1 > e2  # disjoint and descending
    covered = sum(e - s + 1 for s, e in got)
    assert covered == 3 * DAY + 1


def test_plan_slices_bisects_hot_slice_only():
    hot_lo, hot_hi = DAY, 2 * DAY  # middle day overflows the window

    def count(a, b):
        return 5000 if (a < hot_hi and b > hot_lo) else 50

    got = plan_slices(count, 0, 3 * DAY, DAY, HOUR, result_window=100)
    hot = [s for s in got if s[0] >= hot_lo - 1 and s[1] <= hot_hi]
    cold = [s for s in got if s not in hot]
    assert len(cold) == 2  # untouched cold days
    # hot day bisected to the floor: spans near min_slice_ms
    assert all((e - s) <= 2 * HOUR for s, e in hot)
    assert len(hot) >= 12


def test_plan_slices_respects_min_slice_floor():
    got = plan_slices(lambda a, b: 10**9, 0, DAY, DAY, 6 * HOUR, 1)
    # overflow everywhere, but never split below the floor
    assert all((e - s) >= 6 * HOUR // 2 for s, e in got)
    assert all((e - s) <= 6 * HOUR for s, e in got)


# ------------------------------------------------------------ token cache


def test_token_cache_ttl_and_forced_refresh():
    clock = {"t": 0.0}
    logins = []

    def login(tenant):
        logins.append(tenant)
        return f"tok{len(logins)}"

    cache = TokenCache(login=login, ttl_s=100.0, clock=lambda: clock["t"])
    assert cache.get("a") == "tok1"
    assert cache.get("a") == "tok1"  # cached
    clock["t"] = 99.0
    assert cache.get("a") == "tok1"  # still valid
    clock["t"] = 101.0
    assert cache.get("a") == "tok2"  # TTL expired
    assert cache.get("a", force=True) == "tok3"  # 401 path
    assert cache.get("b") == "tok4"  # per-tenant
    assert logins == ["a", "a", "a", "b"]


# ------------------------------------------------------- reader as python


class CountingTransport(JsonlApiTransport):
    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.pages_fetched = 0

    def fetch_page(self, *a, **kw):
        self.pages_fetched += 1
        return super().fetch_page(*a, **kw)


def _default_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("_id", StringType()),
            StructField("ts_ms", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", StringType()),
        ]
    )


def _reader(transport, **opts):
    options = {"window_end_ms": 10 * DAY, "page_size": 10, **opts}
    return PagedApiReader(_default_schema(), options, transport)


def test_reader_early_stops_at_cutoff(tmp_path):
    # 100 rows, 1 min apart; cutoff excludes the oldest 80 -> with
    # descending pages of 10, only ~3 pages are ever requested (S2).
    rows = _mk_rows(100, start_ms=0, step_ms=60_000)
    t = CountingTransport(_write_jsonl(tmp_path / "d.jsonl", rows))
    cutoff = rows[79]["ts_ms"]
    r = _reader(t, cutoff_ms=cutoff)
    [part] = [p for p in r.partitions() if p.start_ms <= cutoff + HOUR]
    got = list(r.read(part))
    assert len(got) == 20
    assert t.pages_fetched <= 3
    ids = {g[0] for g in got}
    assert ids == {f"r{i}" for i in range(80, 100)}


def test_reader_first_wins_on_duplicate_ids(tmp_path):
    rows = _mk_rows(10, start_ms=0, step_ms=60_000)
    dup = dict(rows[5])
    dup["value"] = "late-duplicate"
    dup["ts_ms"] = rows[5]["ts_ms"] - 1  # older copy of the same _id
    t = JsonlApiTransport(_write_jsonl(tmp_path / "d.jsonl", rows + [dup]))
    r = _reader(t, cutoff_ms=-1)
    got = {}
    for p in r.partitions():
        for row in r.read(p):
            assert row[0] not in got
            got[row[0]] = row
    # newest (descending walk) wins; the older duplicate is dropped
    assert got["r5"][4] == "v5"
    assert len(got) == 10


def test_reader_resumes_after_result_window_refusal(tmp_path):
    # One slice holding 50 rows with a result window of 30: the plan
    # can't split (span == min_slice floor), so the reader must fetch 30,
    # then RESUME from oldest-1 and fetch the remaining 20 (S4 fallback).
    rows = _mk_rows(50, start_ms=0, step_ms=1000)
    t = JsonlApiTransport(_write_jsonl(tmp_path / "d.jsonl", rows),
                          result_window=30)
    r = _reader(
        t,
        cutoff_ms=-1,
        window_end_ms=HOUR,
        slice_ms=2 * HOUR,
        min_slice_ms=2 * HOUR,
        result_window=30,
    )
    parts = r.partitions()
    assert len(parts) == 1
    got = list(r.read(parts[0]))
    assert len(got) == 50
    assert {g[0] for g in got} == {f"r{i}" for i in range(50)}


def test_transport_raises_past_result_window(tmp_path):
    rows = _mk_rows(40, 0, 1000)
    t = JsonlApiTransport(_write_jsonl(tmp_path / "d.jsonl", rows),
                          result_window=20)
    t.fetch_page("tok", 0, HOUR, 2, 10)  # 20 <= window: fine
    with pytest.raises(ResultWindowTooLarge):
        t.fetch_page("tok", 0, HOUR, 3, 10)


# ----------------------------------------------------------- end to end


def test_spark_read_end_to_end(spark, tmp_path):
    # 3 days of data, hot middle day -> planner bisects it; every
    # partition fetches in parallel; rows at/under the cutoff excluded.
    rows = (
        _mk_rows(40, start_ms=0, step_ms=30 * 60 * 1000, prefix="a")  # day 1 spread
        + _mk_rows(500, start_ms=DAY + 6 * HOUR, step_ms=1000, prefix="hot")
        + _mk_rows(40, start_ms=2 * DAY, step_ms=30 * 60 * 1000, prefix="c")
    )
    path = _write_jsonl(tmp_path / "events.jsonl", rows)
    spark.dataSource.register(CallioPagedDataSource)
    cutoff = 10 * 30 * 60 * 1000  # excludes the oldest 11 'a' rows (ts<=cutoff)
    df = (
        spark.read.format("callio_paged_api")
        .option("path", path)
        .option("window_end_ms", 3 * DAY)
        .option("cutoff_ms", cutoff)
        .option("result_window", 200)
        .option("page_size", 50)
        .load()
    )
    assert df.rdd.getNumPartitions() > 3  # hot day split into extra slices
    got = df.collect()
    expect = [r for r in rows if r["ts_ms"] > cutoff]
    assert len(got) == len(expect)
    assert {r["_id"] for r in got} == {r["_id"] for r in expect}
    assert df.where(df.ts_ms <= cutoff).count() == 0


def test_spark_read_projected_schema(spark, tmp_path):
    rows = _mk_rows(30, start_ms=0, step_ms=60_000)
    path = _write_jsonl(tmp_path / "events.jsonl", rows)
    spark.dataSource.register(CallioPagedDataSource)
    df = (
        spark.read.format("callio_paged_api")
        .option("path", path)
        .option("window_end_ms", DAY)
        .option("cutoff_ms", -1)
        .option("api_schema", "_id string, ts_ms long")
        .load()
    )
    assert df.columns == ["_id", "ts_ms"]
    assert df.count() == 30


# ------------------------------------------------------------- streaming


def test_stream_incremental_ticks_resume_from_offset(spark, tmp_path):
    """Two availableNow runs over one checkpoint: run 2 must emit ONLY the
    rows that landed after run 1's final offset (the reference's
    tick/cutoff loop, reference pipeline.py, with Spark's offset log as
    the checkpoint store)."""
    rows1 = _mk_rows(60, start_ms=1, step_ms=60_000, prefix="t")
    path = _write_jsonl(tmp_path / "events.jsonl", rows1)
    spark.dataSource.register(CallioPagedDataSource)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("callio_paged_api")
            .option("path", path)
            .option("cutoff_ms", 0)
            .option("page_size", 25)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    run_once()
    got1 = spark.read.parquet(out)
    assert got1.count() == 60

    # new data lands strictly after the last consumed timestamp
    last_ts = rows1[-1]["ts_ms"]
    rows2 = _mk_rows(15, start_ms=last_ts + 1000, step_ms=1000, prefix="n")
    with open(path, "a") as f:
        for r in rows2:
            f.write(json.dumps(r) + "\n")

    run_once()
    got2 = spark.read.parquet(out)
    assert got2.count() == 75  # no replays, no gaps
    assert got2.where("_id like 'n%'").count() == 15
    assert got2.select("_id").distinct().count() == 75


# ------------------------------------------------------------- live HTTP


def _mk_full_rows(n, start_ms, step_ms, prefix="h"):
    return [
        {
            "_id": f"{prefix}{i}",
            "ts_ms": start_ms + i * step_ms,
            "user_id": i % 7,
            "event_type": f"t{i % 3}",
            "value": str(i),
        }
        for i in range(n)
    ]


def test_http_transport_login_refresh_and_refusal():
    """The REAL urllib transport against the in-process server: count
    probe reads totalDocs, pages come back descending, the literal
    'Result window is too large' 400 maps to ResultWindowTooLarge, a
    server-side token expiry mid-walk forces exactly the reference's
    401 -> re-login -> retry path, and the transport pickles (executor
    shipping) without carrying its token cache."""
    import pickle

    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )
    from callio_etl_spark.sources.paged_api import HttpApiTransport

    rows = _mk_full_rows(100, 0, 1000)
    srv = LocalCallioApiServer(
        rows, accounts={"e@x.com": "pw"}, result_window=60,
        expire_token_after=5,
    )
    base = srv.start()
    try:
        t = HttpApiTransport(base, "event", email="e@x.com", password="pw")
        assert t.count(0, 10**9) == 100
        assert t.latest_ts() == 99_000
        docs, has_next = t.fetch_page(None, 0, 10**9, 1, 20)
        assert [d["_id"] for d in docs[:2]] == ["h99", "h98"] and has_next
        with pytest.raises(ResultWindowTooLarge):
            t.fetch_page(None, 0, 10**9, 4, 20)
        for _ in range(8):  # burn past the 5-use expiry repeatedly
            t.fetch_page(None, 0, 10**9, 1, 5)
        assert srv.logins >= 2, "401 never forced a re-login"
        t2 = pickle.loads(pickle.dumps(t))
        assert t2._cache is None
        assert t2.count(0, 10**9) == 100
    finally:
        srv.stop()


def test_http_transport_bad_credentials_fail_loud():
    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )
    from callio_etl_spark.sources.paged_api import HttpApiTransport

    srv = LocalCallioApiServer(_mk_full_rows(5, 0, 1000),
                               accounts={"e@x.com": "pw"})
    base = srv.start()
    try:
        t = HttpApiTransport(base, "event", email="e@x.com", password="WRONG")
        with pytest.raises(Exception):
            t.count(0, 10**9)
    finally:
        srv.stop()


def test_spark_read_http_end_to_end(spark):
    """spark.read.format('callio_paged_api').option('base_url', ...) —
    the planner probes counts over HTTP, bisects the hot slice, executors
    walk pages in parallel over HTTP with server-side token expiry
    forcing mid-walk re-logins, and the cutoff early-stop holds."""
    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )

    rows = (
        _mk_full_rows(40, 0, 30 * 60 * 1000, prefix="a")
        + _mk_full_rows(500, DAY + 6 * HOUR, 1000, prefix="hot")
        + _mk_full_rows(40, 2 * DAY, 30 * 60 * 1000, prefix="c")
    )
    srv = LocalCallioApiServer(
        rows, accounts={"etl@example.com": "pw"}, result_window=100_000,
        expire_token_after=7,
    )
    base = srv.start()
    try:
        spark.dataSource.register(CallioPagedDataSource)
        cutoff = 10 * 30 * 60 * 1000
        df = (
            spark.read.format("callio_paged_api")
            .option("base_url", base)
            .option("endpoint", "event")
            .option("email", "etl@example.com")
            .option("password", "pw")
            .option("window_end_ms", 3 * DAY)
            .option("cutoff_ms", cutoff)
            .option("result_window", 200)
            .option("page_size", 50)
            .load()
        )
        assert df.rdd.getNumPartitions() > 3  # hot day bisected over HTTP
        got = df.collect()
        expect = [r for r in rows if r["ts_ms"] > cutoff]
        assert {r["_id"] for r in got} == {r["_id"] for r in expect}
        assert srv.logins >= 2  # expiry forced re-logins on executors
    finally:
        srv.stop()


def test_spark_read_http_result_window_resume(spark):
    """Counts drifting between plan and fetch: the server enforces a
    SMALLER window than the planner assumed, so executors hit the 400
    mid-walk and must recover via the resume-from-oldest loop — the
    reference's reactive S4 fallback, over real HTTP."""
    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )

    rows = _mk_full_rows(300, 0, 1000)
    srv = LocalCallioApiServer(
        rows, accounts={"etl@example.com": "pw"}, result_window=100,
    )
    base = srv.start()
    try:
        spark.dataSource.register(CallioPagedDataSource)
        df = (
            spark.read.format("callio_paged_api")
            .option("base_url", base)
            .option("email", "etl@example.com")
            .option("password", "pw")
            .option("window_end_ms", 10**9)
            .option("cutoff_ms", -1)
            .option("result_window", 100_000)  # planner believes one slice
            .option("page_size", 50)
            .load()
        )
        got = df.collect()
        assert len(got) == 300  # nothing lost across resume boundaries
        assert {r["_id"] for r in got} == {r["_id"] for r in rows}
        assert srv.refusals >= 1  # the 400 path genuinely fired
    finally:
        srv.stop()


def test_stream_ticks_over_http(spark, tmp_path):
    """The streaming reader over the REAL transport: latestOffset probes
    the endpoint (pageSize=1 descending), the first availableNow run
    drains everything, new rows landing on the server after it are
    exactly what the second run emits (offset log = checkpoint)."""
    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )

    rows1 = _mk_full_rows(60, 1000, 60_000, prefix="s")
    srv = LocalCallioApiServer(rows1, accounts={"etl@example.com": "pw"})
    base = srv.start()
    try:
        spark.dataSource.register(CallioPagedDataSource)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def run_once():
            q = (
                spark.readStream.format("callio_paged_api")
                .option("base_url", base)
                .option("email", "etl@example.com")
                .option("password", "pw")
                .option("cutoff_ms", 0)
                .option("page_size", 25)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            assert not q.isActive

        run_once()
        assert spark.read.parquet(out).count() == 60
        last_ts = rows1[-1]["ts_ms"]
        extra = _mk_full_rows(15, last_ts + 1000, 1000, prefix="n")
        srv.rows = sorted(
            srv.rows + extra,
            key=lambda r: (-int(r["ts_ms"]), str(r.get("_id"))),
        )
        run_once()
        got = spark.read.parquet(out)
        assert got.count() == 75
        assert got.where(got._id.startswith("n")).count() == 15
    finally:
        srv.stop()


def test_http_api_drives_the_full_incremental_loop(spark, tmp_path):
    """The reference's whole production loop, over REAL HTTP: the
    checkpoint store's cutoff feeds the source's cutoff_ms (S1/C1), the
    source early-stops at it on the server (S2), run_tick dedups and
    MERGEs the batch (D3/J8), the checkpoint advances only after the
    merge (C4) — and tick 2 fetches ONLY what landed after tick 1's
    watermark, idempotently."""
    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.pipeline import (
        IncrementalTable,
        commit,
        run_tick,
    )
    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )
    import pyspark.sql.functions as F

    rows1 = _mk_full_rows(40, 1_000_000, 60_000, prefix="x")
    srv = LocalCallioApiServer(rows1, accounts={"etl@example.com": "pw"})
    base = srv.start()
    try:
        spark.dataSource.register(CallioPagedDataSource)
        store = CheckpointStore(
            spark, str(tmp_path / "update_log"), overlap_ms=0
        )
        table = IncrementalTable(
            name="ApiEvents", keys=["tenant", "_id"], time_col_ms="ts_ms"
        )

        def fetch(window_end_ms):
            cutoff = store.cutoff_ms(table.name, "PK", window_end_ms)
            df = (
                spark.read.format("callio_paged_api")
                .option("base_url", base)
                .option("email", "etl@example.com")
                .option("password", "pw")
                .option("window_end_ms", window_end_ms)
                .option("cutoff_ms", max(0, cutoff))
                .option("page_size", 16)
                .load()
            )
            return df.select(
                "_id", "ts_ms", "event_type",
                F.lit("PK").alias("tenant"),
                F.md5(F.concat_ws("|", "_id", "event_type")).alias(
                    "row_hash"
                ),
            )

        now1 = rows1[-1]["ts_ms"] + 1
        b1 = fetch(now1)
        merged1, ck1 = run_tick(
            spark, store, table, b1, None, "PK", now_ms=now1
        )
        merged1 = merged1.localCheckpoint()
        commit(store, table, "PK", ck1)
        assert merged1.count() == 40
        assert ck1 == rows1[-1]["ts_ms"]

        # new rows land on the server + one UPDATE of an old id
        extra = _mk_full_rows(10, now1 + 1000, 1000, prefix="y")
        update = dict(rows1[0])  # _id x0 re-emitted with a newer ts
        update["ts_ms"] = now1 + 50_000
        update["event_type"] = "updated"
        srv.rows = sorted(
            srv.rows + extra + [update],
            key=lambda r: (-int(r["ts_ms"]), str(r.get("_id"))),
        )
        now2 = now1 + 120_000
        b2 = fetch(now2)
        # the source early-stopped at the checkpoint: only the delta came
        assert b2.count() == 11
        merged2, ck2 = run_tick(
            spark, store, table, b2, merged1, "PK", now_ms=now2
        )
        merged2 = merged2.localCheckpoint()
        commit(store, table, "PK", ck2)
        assert merged2.count() == 50  # 40 + 10 inserts, x0 updated in place
        got = {r["_id"]: r["event_type"] for r in merged2.collect()}
        assert got["x0"] == "updated"

        # replaying tick 2's batch is a no-op (row_hash MERGE guard)
        merged3, _ = run_tick(
            spark, store, table, b2, merged2, "PK", now_ms=now2
        )
        assert merged3.count() == 50
        assert {
            r["_id"]: r["event_type"] for r in merged3.collect()
        } == got
    finally:
        srv.stop()


def test_http_loop_snapshot_sink_replay_is_idempotent(spark, tmp_path):
    """The DURABLE loop's crash contract (r11): if the process dies
    AFTER the snapshot merge committed but BEFORE the checkpoint
    advanced, the restarted daemon re-fetches the same delta (stale
    cutoff) and re-merges it onto the already-merged DISK table — the
    row_hash MERGE guard makes the replay byte-identical, and the
    replayed commit is a real (versioned) publish whose content equals
    its predecessor. Tick 2's target always comes from disk, never
    memory."""
    import pyspark.sql.functions as F

    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.dedup import latest_per_key
    from callio_etl_spark.merge import MergeSpec, merge_write_snapshot
    from callio_etl_spark.sources.local_api_server import (
        LocalCallioApiServer,
    )

    rows1 = _mk_full_rows(30, 1_000_000, 60_000, prefix="d")
    srv = LocalCallioApiServer(rows1, accounts={"etl@example.com": "pw"})
    base = srv.start()
    table_path = str(tmp_path / "fact")
    try:
        spark.dataSource.register(CallioPagedDataSource)

        def fetch(cutoff_ms, window_end_ms):
            return (
                spark.read.format("callio_paged_api")
                .option("base_url", base)
                .option("email", "etl@example.com")
                .option("password", "pw")
                .option("window_end_ms", window_end_ms)
                .option("cutoff_ms", cutoff_ms)
                .option("page_size", 16)
                .load()
                .select(
                    "_id", "ts_ms", "event_type",
                    F.lit("PK").alias("tenant"),
                    F.md5(F.concat_ws("|", "_id", "event_type")).alias(
                        "row_hash"
                    ),
                    (F.crc32(F.col("_id")) % 4).cast("int").alias("pbkt"),
                )
            )

        def dedup(batch):
            return latest_per_key(
                batch, ["tenant", "_id"],
                F.col("ts_ms").cast("long"), [F.col("row_hash")],
            ).localCheckpoint(eager=True)

        now1 = rows1[-1]["ts_ms"] + 1
        snap.snapshot_partition_overwrite(
            spark, dedup(fetch(0, now1)), table_path, "pbkt",
            keep_snapshots=5,
        )
        ck1 = rows1[-1]["ts_ms"]

        # delta: 5 inserts + 1 update of d0
        extra = _mk_full_rows(5, now1 + 1000, 1000, prefix="n")
        upd = dict(rows1[0])
        upd["ts_ms"] = now1 + 50_000
        upd["event_type"] = "updated"
        srv.rows = sorted(
            srv.rows + extra + [upd],
            key=lambda r: (-int(r["ts_ms"]), str(r.get("_id"))),
        )
        now2 = now1 + 120_000
        cond = (~F.col("T.row_hash").eqNullSafe(F.col("S.row_hash"))) | (
            F.col("S.ts_ms").cast("long")
            > F.coalesce(F.col("T.ts_ms").cast("long"), F.lit(0))
        )
        spec = MergeSpec(keys=["tenant", "_id"], update_condition=cond)

        v2 = merge_write_snapshot(
            spark, table_path, dedup(fetch(ck1, now2)), spec, "pbkt",
            keep_snapshots=5,
        )
        after2 = {
            (r["_id"], r["event_type"], r["ts_ms"])
            for r in snap.snapshot_read(spark, table_path).collect()
        }
        assert len(after2) == 35
        assert ("d0", "updated", now1 + 50_000) in after2

        # CRASH WINDOW: checkpoint never advanced past ck1 — the restart
        # re-fetches the SAME delta and re-merges onto the merged table
        v3 = merge_write_snapshot(
            spark, table_path, dedup(fetch(ck1, now2)), spec, "pbkt",
            keep_snapshots=5,
        )
        assert v3 > v2, "the replay is a real versioned publish"
        after3 = {
            (r["_id"], r["event_type"], r["ts_ms"])
            for r in snap.snapshot_read(spark, table_path).collect()
        }
        assert after3 == after2, "replayed merge must be byte-identical"
        # and the pre-replay version stays pinnable (snapshot isolation)
        assert (
            snap.snapshot_read(spark, table_path, version=v2).count() == 35
        )
    finally:
        srv.stop()


def test_http_loops_agree_with_oracle_on_pre_window_rows(spark, tmp_path):
    """r11 review fix: an update-candidate row whose ORIGINAL ts lies
    before the seeded window (<= T0 - overlap) must not be re-emitted —
    tick 1 never fetched its original, and the oracle's base CTE
    excludes it, so serving its update would merge an id the oracle
    lacks. Build an adversarial corpus the shipped testdata lacks
    (pre-window rows, incl. one in the update-candidate residue class)
    and assert BOTH registered loop rows still hash-match their DuckDB
    oracles end to end."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from callio_etl_spark.queries.api_source import (
        _CUTOFF_MS,
        _OVERLAP_MS,
        _T0_MS,
    )
    from callio_etl_spark.registry import all_oracles, all_queries

    day = 86_400_000
    # (event_id, ts_ms): ids chosen per residue class for BOTH cohorts
    # (%5==2 for http_incremental_loop, %5==4 for http_loop_snapshot_sink)
    rows = [
        # PRE-WINDOW (ts <= T0 - overlap): originals invisible to tick 1
        (17, _T0_MS - 2 * 3_600_000),   # %5=2, %4=1: the %5==2 bug trigger
        (2, _T0_MS - 2 * 3_600_000),    # %5=2, non-candidate
        (14, _T0_MS - 2 * 3_600_000),   # %5=4, %4=2: the %5==4 bug trigger
        # tick-1 window (T0, T_MID]
        (7, _T0_MS + day),              # %5=2
        (37, _T0_MS + 2 * day),         # %5=2, %4=1: legit update cand.
        (4, _T0_MS + day),              # %5=4
        (34, _T0_MS + 2 * day),         # %5=4, %4=2: legit update cand.
        # tick-2 window (T_MID, T_END]
        (12, _CUTOFF_MS + 3 * day),     # %5=2
        (24, _CUTOFF_MS + 3 * day),     # %5=4
        # non-cohort noise
        (5, _T0_MS + day),
        (11, _CUTOFF_MS + day),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [r[1] * 1_000_000 for r in rows], pa.timestamp("ns")
            ),
            "user_id": pa.array([r[0] % 7 for r in rows], pa.int64()),
            "event_type": pa.array([f"t{r[0] % 3}" for r in rows]),
            "value": pa.array([r[0] * 0.5 for r in rows], pa.float64()),
        }
    )
    sf_dir = str(tmp_path / "advdata")
    import os as _os

    _os.makedirs(sf_dir)
    pq.write_table(table, f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    queries, oracles = all_queries(), all_oracles()
    for name, want_updated in (
        ("http_incremental_loop", "37"),
        ("http_loop_snapshot_sink", "34"),
    ):
        got = {
            (r["_id"], r["ts_ms"], r["user_id"], r["event_type"],
             r["value_fold"])
            for r in queries[name](spark, sf_dir).collect()
        }
        want = {tuple(r) for r in con.execute(oracles[name]).fetchall()}
        assert got == want, f"{name} diverged from its oracle: {got ^ want}"
        by_id = {t[0]: t[3] for t in got}
        # the pre-window candidate was NOT resurrected as an update...
        assert "17" not in by_id and "14" not in by_id and "2" not in by_id
        # ...while the in-window candidate's update won its merge
        assert by_id[want_updated] == "updated"
    con.close()


def test_snapshot_loop_tick_single_writer_blocks_and_replays(
    spark, tmp_path
):
    """VERDICT r11 item 5 (part 1): two loop instances on one target are
    SERIALIZED — a tick blocks at the table's service lock while another
    instance holds it (the per-commit lock alone cannot stop two
    read-modify-write ticks from both computing against the same target
    version and silently dropping the first publish), and a replayed
    tick against the committed table is idempotent."""
    import os
    import threading
    import time as _time

    from callio_etl_spark.io import (
        SERVICE_LOCK_INFIX,
        acquire_service_lock,
        release_service_lock,
    )
    from callio_etl_spark.queries.api_source import (
        _snapshot_loop_tick,
        _start_loop_server,
    )
    from callio_etl_spark.snapshots import SNAP_DIR, snapshot_read

    T0 = 1_700_000_000_000
    rows = _mk_full_rows(12, T0, 30 * 60 * 1000, prefix="sw")
    for r in rows:
        r["value"] = float(r["value"])  # _loop_fetch declares value double
    srv, base = _start_loop_server(rows)
    root = str(tmp_path / "swroot")
    table_path = f"{root}/fact_events"
    window1 = T0 + 8 * HOUR
    try:
        spark.dataSource.register(CallioPagedDataSource)
        # another loop instance holds the tick
        acquire_service_lock(spark, table_path)
        state = {"done_at": None, "err": None}

        def run_tick():
            try:
                _snapshot_loop_tick(spark, base, root, window1)
                state["done_at"] = _time.monotonic()
            except Exception as exc:  # surfaced by the join assert below
                state["err"] = exc

        t = threading.Thread(target=run_tick)
        t.start()
        _time.sleep(2.5)
        # blocked: nothing committed while the other instance holds
        assert not os.path.exists(f"{table_path}/{SNAP_DIR}"), (
            "second loop instance committed while the first held the "
            "service lock"
        )
        released_at = _time.monotonic()
        release_service_lock(spark, table_path)
        t.join(timeout=180)
        assert not t.is_alive() and state["err"] is None, state["err"]
        assert state["done_at"] > released_at
        got = {
            (r["_id"], r["ts_ms"])
            for r in snapshot_read(spark, table_path).collect()
        }
        assert got == {(r["_id"], r["ts_ms"]) for r in rows}
        # replayed tick (stale cutoff, same window): byte-identical table
        _snapshot_loop_tick(spark, base, root, window1)
        again = {
            (r["_id"], r["ts_ms"])
            for r in snapshot_read(spark, table_path).collect()
        }
        assert again == got, "replayed tick was not idempotent"
        from callio_etl_spark.io import LOCK_SUFFIX

        assert not os.path.exists(
            table_path + SERVICE_LOCK_INFIX + LOCK_SUFFIX
        ), "tick leaked its service lock"
    finally:
        srv.stop()


def test_snapshot_loop_tick_fenced_after_reclaim(spark, tmp_path, monkeypatch):
    """VERDICT r11 item 5 (part 2): a loop tick that stalls past the
    stale window and loses its service lock to a reclaim must abort
    LOUDLY at its fence — before the publish and before the checkpoint
    advance — leaving the new owner's state untouched; its retry under
    a fresh lock succeeds and lands the same content."""
    import os

    import pytest as _pytest

    from callio_etl_spark import io as cio
    from callio_etl_spark.queries import api_source as apimod
    from callio_etl_spark.snapshots import SNAP_DIR, snapshot_read

    T0 = 1_700_000_000_000
    rows = _mk_full_rows(10, T0, 30 * 60 * 1000, prefix="fc")
    for r in rows:
        r["value"] = float(r["value"])
    srv, base = apimod._start_loop_server(rows)
    root = str(tmp_path / "fcroot")
    table_path = f"{root}/fact_events"
    lock_file = table_path + cio.SERVICE_LOCK_INFIX + cio.LOCK_SUFFIX
    window1 = T0 + 8 * HOUR
    real_fetch = apimod._loop_fetch

    def stalled_fetch(*args, **kwargs):
        # the tick 'stalls' mid-fetch: its service lock ages past the
        # stale window and another daemon reclaims it
        rec = cio._LOCK_BEATS[lock_file]
        jvm, fs, _ = cio._hadoop(spark, table_path)
        with rec["mutex"]:
            cio._delete(jvm, fs, lock_file)
            assert cio._try_create_exclusive(
                jvm, fs, lock_file, content="other-daemon"
            )
        rec["acquired_at"] -= 3600.0
        return real_fetch(*args, **kwargs)

    try:
        spark.dataSource.register(CallioPagedDataSource)
        monkeypatch.setattr(apimod, "_loop_fetch", stalled_fetch)
        with _pytest.raises(RuntimeError, match="commit fencing"):
            apimod._snapshot_loop_tick(spark, base, root, window1)
        # the fence fired BEFORE the publish: no table, no checkpoint row
        assert not os.path.exists(f"{table_path}/{SNAP_DIR}"), (
            "fenced tick still published"
        )
        assert not os.path.exists(f"{root}/update_log"), (
            "fenced tick still advanced the checkpoint"
        )
        # the new owner's lock survived the loser's release
        assert os.path.exists(lock_file)

        # the other daemon finishes; the fenced instance retries fresh
        monkeypatch.setattr(apimod, "_loop_fetch", real_fetch)
        os.remove(lock_file)
        apimod._snapshot_loop_tick(spark, base, root, window1)
        got = {
            (r["_id"], r["ts_ms"])
            for r in snapshot_read(spark, table_path).collect()
        }
        assert got == {(r["_id"], r["ts_ms"]) for r in rows}
    finally:
        srv.stop()


def test_snapshot_loop_restart_resume_across_process_kill(spark, tmp_path):
    """VERDICT r11 item 6: restart-resume as a REAL process boundary —
    tick 1 runs in its own process (own SparkSession, own JVM) that is
    kill -9'd after committing; a SECOND fresh process runs tick 2 from
    nothing but the on-disk checkpoint + table (the update_log audit row
    carries the watermark across the boundary); the final table matches
    a single-process run of the same two ticks byte-for-byte."""
    import json as _json
    import os as _os
    import signal
    import subprocess
    import sys as _sys

    from callio_etl_spark.queries.api_source import (
        _snapshot_loop_tick,
        _start_loop_server,
    )
    from callio_etl_spark.snapshots import snapshot_read

    T0 = 1_700_000_000_000
    HALF_H = 30 * 60 * 1000
    base_rows = _mk_full_rows(15, T0, HALF_H, prefix="rr")
    for r in base_rows:
        r["value"] = float(r["value"])
    window1 = T0 + 8 * HOUR
    # tick-2 delta: 3 update re-emissions (same _id, newer ts, changed
    # payload — must WIN their merge) + 5 fresh inserts
    updates = [
        {
            "_id": f"rr{i}",
            "ts_ms": T0 + 9 * HOUR + i * 60_000,
            "user_id": i % 7,
            "event_type": "updated",
            "value": float(i + 100),
        }
        for i in (0, 3, 6)
    ]
    inserts = _mk_full_rows(5, T0 + 10 * HOUR, 60_000, prefix="nn")
    for r in inserts:
        r["value"] = float(r["value"])
    rows2 = base_rows + updates + inserts
    window2 = T0 + 12 * HOUR
    ck1_expected = base_rows[-1]["ts_ms"]  # max ts landed by tick 1

    def read_final(root):
        return sorted(
            (r["_id"], r["ts_ms"], r["user_id"], r["event_type"],
             r["value"])
            for r in snapshot_read(spark, f"{root}/fact_events").collect()
        )

    # --- the single-process truth, same helper, in this session
    root_a = str(tmp_path / "single_proc")
    srv, base = _start_loop_server(base_rows)
    try:
        spark.dataSource.register(CallioPagedDataSource)
        _snapshot_loop_tick(spark, base, root_a, window1)
    finally:
        srv.stop()
    srv, base = _start_loop_server(rows2)
    try:
        _snapshot_loop_tick(spark, base, root_a, window2)
    finally:
        srv.stop()
    expected = read_final(root_a)
    assert {t[0]: t[3] for t in expected}["rr0"] == "updated"
    assert len(expected) == 20

    # --- the same two ticks across a REAL kill -9 process boundary
    root_b = str(tmp_path / "two_proc")
    out_json = str(tmp_path / "tick2_out.json")

    def tick_src(rows, window_end, epilogue):
        return f"""
import json, os, signal, sys
sys.path.insert(0, {repr(str(_os.getcwd()))})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
from callio_etl_spark.queries.api_source import (
    _snapshot_loop_tick, _start_loop_server,
)
from callio_etl_spark.sources.paged_api import CallioPagedDataSource
spark.dataSource.register(CallioPagedDataSource)
srv, base = _start_loop_server({rows!r})
_snapshot_loop_tick(spark, base, {root_b!r}, {window_end})
{epilogue}
"""

    kill_epilogue = """
print("TICK1-DONE", flush=True)
os.killpg(os.getpgid(os.getpid()), signal.SIGKILL)  # no clean shutdown
"""
    proc1 = subprocess.Popen(
        [_sys.executable, "-c", tick_src(base_rows, window1, kill_epilogue)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        start_new_session=True, text=True,
    )
    saw_done = any(
        "TICK1-DONE" in line for line in iter(proc1.stdout.readline, "")
    )
    proc1.wait(timeout=60)
    assert saw_done, "tick-1 process never committed"
    assert proc1.returncode == -signal.SIGKILL

    report_epilogue = f"""
from callio_etl_spark.checkpoints import CheckpointStore
from callio_etl_spark.snapshots import snapshot_read
store = CheckpointStore(spark, {root_b!r} + "/update_log",
                        overlap_ms=3_600_000)
store.warm()
rows_out = sorted(
    (r["_id"], r["ts_ms"], r["user_id"], r["event_type"], r["value"])
    for r in snapshot_read(spark, {root_b!r} + "/fact_events").collect()
)
with open({out_json!r}, "w") as fh:
    json.dump({{"ck": store.get("HttpSnapEvents", "PK"),
               "rows": rows_out}}, fh)
print("TICK2-DONE", flush=True)
srv.stop()
"""
    proc2 = subprocess.run(
        [_sys.executable, "-c", tick_src(rows2, window2, report_epilogue)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        timeout=300, text=True,
    )
    assert "TICK2-DONE" in proc2.stdout, "tick-2 process failed"
    with open(out_json) as fh:
        got = _json.load(fh)
    # the fresh process RESUMED: its warmed checkpoint is >= tick 1's
    # watermark (tick 2's own advance lands after), and the final table
    # matches the single-process run byte-for-byte
    assert got["ck"] >= ck1_expected
    assert [list(t) for t in expected] == got["rows"], (
        "restarted-process table diverged from the single-process run"
    )


def test_snapshot_loop_tick_error_login_holds_checkpoint(spark, tmp_path):
    """r13: a tick whose per-tenant login fails (real HTTP 401 — wrong
    password against the live server) audits ERROR_LOGIN and returns
    with the checkpoint HELD and the target untouched (reference
    runner.py:535-537); the next good-credential tick then lands the
    full window. A drifted id_buckets against the pinned table property
    refuses loudly."""
    import os

    import pytest

    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.queries.api_source import (
        _snapshot_loop_tick,
        _start_loop_server,
    )
    from callio_etl_spark.snapshots import SNAP_DIR, snapshot_read

    T0 = 1_700_000_000_000
    rows = _mk_full_rows(8, T0, 30 * 60 * 1000, prefix="el")
    for r in rows:
        r["value"] = float(r["value"])
    srv, base = _start_loop_server(rows)
    root = str(tmp_path / "elroot")
    table_path = f"{root}/fact_events"
    window1 = T0 + 8 * HOUR
    try:
        spark.dataSource.register(CallioPagedDataSource)
        _snapshot_loop_tick(spark, base, root, window1, password="WRONG")
        assert not os.path.exists(f"{table_path}/{SNAP_DIR}"), (
            "failed login still published"
        )
        log = snapshot_read(spark, f"{root}/update_log")
        el = log.where("mode = 'ERROR_LOGIN'").collect()
        assert len(el) == 1 and el[0]["rows_loaded"] == 0
        store = CheckpointStore(spark, f"{root}/update_log")
        store.warm()
        assert store.get("HttpSnapEvents", "PK") is None, (
            "failed login advanced the checkpoint"
        )
        # recovery: the next tick with good credentials lands everything
        _snapshot_loop_tick(spark, base, root, window1)
        assert snapshot_read(spark, table_path).count() == len(rows)
        # the pinned bucket modulus refuses a drifted caller value
        with pytest.raises(ValueError, match="pinned modulus"):
            _snapshot_loop_tick(
                spark, base, root, T0 + 12 * HOUR, id_buckets=8
            )
    finally:
        srv.stop()


def test_snapshot_loop_noop_tick_runs_retention(spark, tmp_path, monkeypatch):
    """ADVICE r13: the NOOP early-return of the durable loop tick must
    still run update_log retention (a daemon idling through a long quiet
    period otherwise appends one log file per tick with no bound until
    the next MERGED tick) — and its flush is fenced like every other
    checkpoint flush in the single-writer section."""
    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.queries.api_source import (
        _snapshot_loop_tick,
        _start_loop_server,
    )

    T0 = 1_700_000_000_000
    srv, base = _start_loop_server([])  # empty server: every tick NOOPs
    root = str(tmp_path / "noop_root")
    calls = []
    real = CheckpointStore.compact_if_needed

    def spy(self, *a, **k):
        calls.append(self.log_path)
        return real(self, *a, **k)

    monkeypatch.setattr(CheckpointStore, "compact_if_needed", spy)
    try:
        spark.dataSource.register(CallioPagedDataSource)
        _snapshot_loop_tick(spark, base, root, T0 + 8 * HOUR)
        assert calls, "NOOP tick skipped update_log retention"
        from callio_etl_spark.snapshots import snapshot_read

        log = snapshot_read(spark, f"{root}/update_log")
        assert {r["mode"] for r in log.collect()} == {"NOOP"}
    finally:
        srv.stop()


def test_snapshot_loop_tick_missing_pin_defaults_to_sixteen(spark, tmp_path):
    """ADVICE r13 (r14 fix): a loop table created BEFORE the id_buckets
    pin existed has no `loop.id_buckets` property — its ids are bucketed
    under the historical constant 16, so a tick passing any OTHER modulus
    must refuse (a drifted modulus scatters existing ids into buckets the
    bucket-scoped merge never reads, silently surviving duplicates);
    a tick passing 16 proceeds normally."""
    import pytest as _pytest

    from callio_etl_spark.queries.api_source import (
        _snapshot_loop_tick,
        _start_loop_server,
    )
    from callio_etl_spark.snapshots import (
        snapshot_properties,
        snapshot_read,
        snapshot_set_properties,
    )

    T0 = 1_700_000_000_000
    rows = _mk_full_rows(10, T0, 30 * 60 * 1000, prefix="pin")
    for r in rows:
        r["value"] = float(r["value"])
    srv, base = _start_loop_server(rows)
    root = str(tmp_path / "pinroot")
    table_path = f"{root}/fact_events"
    window1 = T0 + 8 * HOUR
    try:
        spark.dataSource.register(CallioPagedDataSource)
        _snapshot_loop_tick(spark, base, root, window1)  # pins 16
        # simulate the pre-pin table: unset the pin the first tick wrote
        snapshot_set_properties(
            spark, table_path, {"loop.id_buckets": None}
        )
        assert "loop.id_buckets" not in (
            snapshot_properties(spark, table_path) or {}
        )
        with _pytest.raises(ValueError, match="drifts from the table's"):
            _snapshot_loop_tick(
                spark, base, root, window1 + HOUR, id_buckets=8
            )
        # the historical constant is accepted and the tick completes
        _snapshot_loop_tick(spark, base, root, window1 + HOUR)
        got = {r["_id"] for r in snapshot_read(spark, table_path).collect()}
        assert got == {r["_id"] for r in rows}
    finally:
        srv.stop()
