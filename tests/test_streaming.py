"""Structured Streaming incremental semantics (SURVEY section 2.9): two
Trigger.AvailableNow ticks over a file stream — the streaming twin of the
batch two-tick tests in test_incremental.py."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from callio_etl_spark.streaming.incremental import (
    EVENTS_STREAM_SCHEMA,
    daily_user_metrics_stream,
    dedup_stream,
    read_event_stream,
    run_available_now,
    running_checkpoint_stream,
)

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def _row(eid, minutes, uid, etype="call", value="v"):
    return (eid, T0 + dt.timedelta(minutes=minutes), uid, etype, value)


@pytest.fixture()
def dirs(tmp_path):
    src = str(tmp_path / "src")
    return {
        "src": src,
        "out": str(tmp_path / "out"),
        "ck": str(tmp_path / "ck"),
    }


def test_two_tick_windowed_agg(spark, dirs):
    _write_batch(spark, dirs["src"], [_row(1, 0, 10), _row(2, 5, 10), _row(3, 0, 20)])
    stream = daily_user_metrics_stream(read_event_stream(spark, dirs["src"]))
    run_available_now(stream, dirs["out"], dirs["ck"])
    # append mode emits only watermark-closed windows -> nothing yet
    first = spark.read.schema(
        "d date, user_id long, n_events long, max_ts_ms long"
    ).parquet(dirs["out"])
    n_first = first.count()

    # tick 2: new rows one day later close the first window past the watermark
    _write_batch(spark, dirs["src"], [_row(4, 60 * 24 + 10, 10), _row(5, 60 * 24 + 11, 30)])
    run_available_now(stream, dirs["out"], dirs["ck"])
    out = spark.read.parquet(dirs["out"])
    rows = {(str(r["d"]), r["user_id"]): r["n_events"] for r in out.collect()}
    assert rows[("2024-01-01", 10)] == 2  # both day-1 events for user 10
    assert rows[("2024-01-01", 20)] == 1
    assert n_first == 0  # watermark held the open window at tick 1


def test_stream_dedup_first_wins(spark, dirs):
    _write_batch(
        spark,
        dirs["src"],
        [_row(1, 0, 10), _row(1, 1, 10), _row(2, 2, 20)],  # dup event_id=1
    )
    stream = dedup_stream(read_event_stream(spark, dirs["src"]), ["event_id"])
    run_available_now(stream, dirs["out"], dirs["ck"])
    # second tick re-sends an already-seen key within the watermark
    _write_batch(spark, dirs["src"], [_row(2, 3, 20), _row(3, 4, 30)])
    run_available_now(stream, dirs["out"], dirs["ck"])
    out = spark.read.parquet(dirs["out"])
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [1, 2, 3]  # each key exactly once across micro-batches


def test_running_checkpoint_state(spark, dirs):
    from callio_etl_spark.streaming.incremental import run_foreach_batch_merge

    _write_batch(spark, dirs["src"], [_row(1, 0, 10, "customer"), _row(2, 5, 20, "customer"), _row(3, 1, 10, "call")])
    stream = running_checkpoint_stream(read_event_stream(spark, dirs["src"]))
    sink = lambda batch: batch.write.mode("append").parquet(dirs["out"])  # noqa: E731
    run_foreach_batch_merge(stream, dirs["ck"], sink)
    _write_batch(spark, dirs["src"], [_row(4, 30, 10, "customer")])
    run_foreach_batch_merge(stream, dirs["ck"], sink)

    out = spark.read.parquet(dirs["out"])
    # take the latest row per tenant (updates append one row per batch)
    latest = {
        r["tenant"]: r
        for r in out.orderBy("rows_total").collect()  # last write wins below
    }
    ck_customer = latest["customer"]
    assert ck_customer["rows_total"] == 3  # 2 + 1 across ticks (state kept)
    want_ms = int((T0 + dt.timedelta(minutes=30)).replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert ck_customer["max_ts_ms"] == want_ms  # running max advanced (C1/C4)


def test_session_window_stream(spark, dirs):
    """Two events 5 min apart share a session; a 40-min gap opens a new one
    (gap=30m). Complete mode over two ticks so finalized sessions surface."""
    from callio_etl_spark.streaming.incremental import user_sessions_stream

    _write_batch(
        spark,
        dirs["src"],
        [_row(1, 0, 7), _row(2, 5, 7), _row(3, 45, 7), _row(4, 0, 8)],
    )
    stream = user_sessions_stream(read_event_stream(spark, dirs["src"]))
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("complete")
        .option("checkpointLocation", dirs["ck"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["user_id"], r["n_events"])
        for r in spark.sql("select * from sessions_t").collect()
    }
    assert (7, 2) in rows  # events 1+2 merged into one session
    assert (7, 1) in rows  # event 3 in its own session
    assert (8, 1) in rows


def test_stream_static_dim_enrichment(spark, dirs):
    """Events stream joined to a static user dim: names resolve per
    micro-batch, unmatched users stay (left join)."""
    from callio_etl_spark.streaming.incremental import enrich_stream_with_dim

    _write_batch(spark, dirs["src"], [_row(1, 0, 7), _row(2, 1, 99)])
    dim = spark.createDataFrame([(7, "An")], "user_id long, name string")
    stream = enrich_stream_with_dim(
        read_event_stream(spark, dirs["src"]), dim, "user_id"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("enriched_t")
        .option("checkpointLocation", dirs["ck"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r["event_id"]: r["name"]
        for r in spark.sql("select * from enriched_t").collect()
    }
    assert rows == {1: "An", 2: None}


def test_stream_stream_interval_join(spark, dirs):
    """Two streams over the same source dir (clicks vs purchases) joined on
    user within a 30-min forward interval; result must match the batch join
    regardless of micro-batch arrival order."""
    from callio_etl_spark.streaming.incremental import join_event_streams

    _write_batch(
        spark,
        dirs["src"],
        [
            _row(1, 0, 7, "click"),
            _row(2, 10, 7, "purchase"),     # pairs with 1 (within 30m)
            _row(3, 50, 7, "purchase"),     # too late for 1
            _row(4, 45, 7, "click"),
            # user 8: purchase before any click -> no pair
            _row(5, 5, 8, "purchase"),
        ],
    )
    s = read_event_stream(spark, dirs["src"])
    clicks = s.where(F.col("event_type") == "click")
    buys = s.where(F.col("event_type") == "purchase")
    joined = join_event_streams(clicks, buys)
    run_available_now(joined, dirs["out"], dirs["ck"])
    got = sorted(
        (r.l_event_id, r.r_event_id)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    assert got == [(1, 2), (4, 3)]


def test_stream_crash_resume_merge_checkpoint_parity(spark, tmp_path):
    """VERDICT r3 item 7 — the full incremental contract in one test:
    PagedApiStreamReader micro-batches -> pipeline.run_tick (cutoff filter,
    latest-per-key dedup, conditional merge into a snapshot table,
    checkpoint advance), with an injected crash BETWEEN the merge publish
    and the checkpoint flush of the first batch. The resumed
    run must replay the same micro-batch (Spark offset never committed), the
    replayed merge must be a no-op (row_hash-conditional update), and the
    next tick must process ONLY newly-landed rows: no replays, no gaps,
    C1-C7 closed end to end."""
    import json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from callio_etl_spark import functions as fn
    from callio_etl_spark import pipeline as pl
    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.snapshots import snapshot_partition_overwrite, snapshot_read
    from callio_etl_spark.sources.paged_api import CallioPagedDataSource

    rows1 = [
        {"_id": f"t{i}", "ts_ms": 1 + i * 60_000, "user_id": i % 7,
         "event_type": "call" if i % 2 else "sms", "value": f"v{i}"}
        for i in range(60)
    ]
    src = tmp_path / "events.jsonl"
    with open(src, "w") as f:
        for r in rows1:
            f.write(json.dumps(r) + "\n")
    spark.dataSource.register(CallioPagedDataSource)

    target_path = str(tmp_path / "target")
    log_path = str(tmp_path / "update_log")
    stream_ck = str(tmp_path / "stream_ck")
    crash_flag = tmp_path / "crashed_once"
    table = pl.IncrementalTable(name="events", keys=["tenant", "_id"], time_col_ms="ts_ms")

    def _prepare(df):
        base = df.select(
            F.lit("acme").alias("tenant"), "_id", F.col("ts_ms").cast("long"),
            "user_id", "event_type", "value",
        )
        return base.withColumn("row_hash", fn.row_hash(base))

    # Seed the target like a prior run left it: a STALE version of t0 (must
    # be updated — older ts, different value/hash) and a foreign row no batch
    # touches (must survive every merge).
    seed = _prepare(
        spark.createDataFrame(
            [("t0", -5, 0, "sms", "stale"), ("seed-x", -10, 9, "call", "keep")],
            "_id string, ts_ms long, user_id long, event_type string, value string",
        )
    )
    snapshot_partition_overwrite(spark, seed, target_path, "event_type")

    def handle_batch(batch_df, _batch_id):
        # fresh store per batch == restarted process: run_tick warms the
        # cache from the audit log only (crashed runs leave no buffered
        # rows behind)
        store = CheckpointStore(spark=spark, log_path=log_path)
        if not crash_flag.exists():

            def crash():
                crash_flag.touch()
                raise RuntimeError("injected crash: target published, checkpoint NOT flushed")

            store.flush = crash
        pl.run_tick(
            spark, store, table, target_path, "event_type",
            lambda cutoff: _prepare(batch_df), "acme", 3, now_ms=0,
        )

    def run_once():
        q = (
            spark.readStream.format("callio_paged_api")
            .option("path", str(src))
            .option("cutoff_ms", 0)
            .option("page_size", 25)
            .load()
            .writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", stream_ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: crashes mid-batch after the merge landed
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_once()
    after_crash = snapshot_read(spark, target_path)
    assert after_crash.count() == 61  # 60 merged + seed-x; t0 updated in place
    store = CheckpointStore(spark=spark, log_path=log_path)
    store.warm()
    assert store.get("events", "acme") is None  # checkpoint NOT advanced (C4)

    # run 2: resumes -> Spark replays the SAME micro-batch; merge idempotent
    run_once()
    after_resume = snapshot_read(spark, target_path)
    assert after_resume.count() == 61  # replay added nothing
    assert after_resume.select("tenant", "_id").distinct().count() == 61
    t0 = after_resume.where("_id = 't0'").collect()
    assert len(t0) == 1 and t0[0]["value"] == "v0" and t0[0]["ts_ms"] == 1
    assert after_resume.where("_id = 'seed-x'").collect()[0]["value"] == "keep"
    store = CheckpointStore(spark=spark, log_path=log_path)
    store.warm()
    assert store.get("events", "acme") == rows1[-1]["ts_ms"]  # committed now

    # 15 new rows land strictly after the consumed range
    last = rows1[-1]["ts_ms"]
    with open(src, "a") as f:
        for i in range(15):
            f.write(json.dumps({
                "_id": f"n{i}", "ts_ms": last + 1000 + i * 1000, "user_id": i % 7,
                "event_type": "call", "value": f"nv{i}",
            }) + "\n")

    # run 3: must process ONLY the new rows (offset log + checkpoint agree)
    run_once()
    final = snapshot_read(spark, target_path)
    assert final.count() == 76 and final.select("_id").distinct().count() == 76
    store = CheckpointStore(spark=spark, log_path=log_path)
    store.warm()
    assert store.get("events", "acme") == last + 1000 + 14 * 1000

    # audit log: exactly two committed MERGED ticks (60-row replayed batch
    # committed once — the crashed attempt's buffer died with its process —
    # then the 15-row incremental tick), and no NOOP noise.
    log = snapshot_read(spark, log_path)
    merged_counts = sorted(r["rows_loaded"] for r in log.collect())
    assert merged_counts == [15, 60]
    assert {r["mode"] for r in log.collect()} == {"MERGED"}


def test_neardup_stream_matches_batch_incremental(spark, tmp_path):
    """Streamed delta-vs-index candidate pairs must equal the batch
    operator's delta-to-index join for the same inputs — the streaming
    form inherits the incremental contract, not an approximation of it."""
    from callio_etl_spark.llm_ops.dedup_ops import band_projection
    from callio_etl_spark.streaming.incremental import (
        neardup_stream,
        read_docs_stream,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    base = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s0", 0),
        (1, "one two three four five six", "en", "s0", 0),
        (2, "alpha beta gamma delta epsilon zeta", "en", "s1", 0),  # dup of 0
    ]
    delta = [
        (10, "alpha beta gamma delta epsilon zeta", "en", "s2", 0),  # dup of 0/2
        (11, "totally novel words appear here only", "en", "s2", 0),
    ]
    index_bands = band_projection(spark.createDataFrame(base, schema)).localCheckpoint()
    src = f"{tmp_path}/docs_src"
    spark.createDataFrame(delta, schema).write.mode("overwrite").parquet(src)

    stream = neardup_stream(read_docs_stream(spark, src), index_bands)
    q = (
        stream.writeStream.format("memory")
        .queryName("neardup_t")
        .option("checkpointLocation", f"{tmp_path}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["new_doc_id"], r["index_doc_id"], r["band"])
        for r in spark.sql("select * from neardup_t").collect()
    }

    import pyspark.sql.functions as F

    delta_bands = band_projection(spark.createDataFrame(delta, schema))
    batch = {
        (r["new_doc_id"], r["index_doc_id"], r["band"])
        for r in delta_bands.withColumnRenamed("doc_id", "new_doc_id")
        .join(
            index_bands.select(
                F.col("doc_id").alias("index_doc_id"),
                F.col("band").alias("i_band"),
                F.col("band_key").alias("i_band_key"),
            ),
            (F.col("band") == F.col("i_band"))
            & (F.col("band_key") == F.col("i_band_key"))
            & (F.col("new_doc_id") != F.col("index_doc_id")),
        )
        .collect()
    }
    assert streamed == batch
    assert {(p[0], p[1]) for p in streamed} >= {(10, 0), (10, 2)}
    assert all(p[0] != 11 for p in streamed)  # novel doc matches nothing


def test_neardup_stream_two_ticks_processes_only_new_batch(spark, tmp_path):
    """Two availableNow runs over the same checkpoint: the second tick
    must probe the index with ONLY the newly landed batch (no replay of
    tick 1's docs) — the rolling dedup service's incremental contract."""
    from callio_etl_spark.llm_ops.dedup_ops import band_projection
    from callio_etl_spark.streaming.incremental import (
        neardup_stream,
        read_docs_stream,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    base = [(0, "alpha beta gamma delta epsilon zeta", "en", "s0", 0)]
    index_bands = band_projection(
        spark.createDataFrame(base, schema)
    ).localCheckpoint()
    src = f"{tmp_path}/src"
    ck = f"{tmp_path}/ck"
    out = f"{tmp_path}/out"

    def run_tick():
        # parquet sink: the memory sink refuses checkpoint recovery, and a
        # real rolling dedup service lands pairs durably anyway
        q = (
            neardup_stream(read_docs_stream(spark, src), index_bands)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["new_doc_id"], r["index_doc_id"])
            for r in spark.read.parquet(out).collect()
        }

    # tick 1: doc 10 duplicates the indexed doc 0
    spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta", "en", "s1", 0)], schema
    ).write.mode("append").parquet(src)
    first = run_tick()
    assert {p[:2] for p in first} == {(10, 0)}

    # tick 2: doc 20 also duplicates doc 0; doc 10's pairs must NOT re-emit
    spark.createDataFrame(
        [(20, "alpha beta gamma delta epsilon zeta", "en", "s2", 0)], schema
    ).write.mode("append").parquet(src)
    both = run_tick()
    assert both == {(10, 0), (20, 0)}  # sink accumulates; no replays


def _mk_vectors(spark, rows):
    """(vec_id, label, embedding float[4]) frame for the IVF stream tests."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("label", IntegerType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


_IVF_INDEX = [
    # two tight cells around orthogonal axes
    (1, 0, [1.0, 0.1, 0.0, 0.0]),
    (2, 0, [1.0, -0.1, 0.0, 0.0]),
    (3, 1, [0.0, 0.0, 1.0, 0.1]),
    (4, 1, [0.0, 0.0, 1.0, -0.1]),
]
_IVF_DELTA1 = [
    (10, 0, [0.9, 0.0, 0.1, 0.0]),   # clearly cell 0, stays
    (11, 1, [0.8, 0.1, 0.2, 0.0]),   # labeled 1 but nearest cell 0 -> moved
]
_IVF_DELTA2 = [
    (12, 1, [0.0, 0.1, 0.9, 0.0]),   # clearly cell 1, stays
]


def _cells_static(spark, tmp_path):
    """File-backed (label, cv) table — the refreshable static side the
    ivf_assign_stream contract requires."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.similarity import _cvec

    idx = _mk_vectors(spark, _IVF_INDEX).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = f"{tmp_path}/cells"
    _cvec(idx).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_ivf_assign_stream_matches_batch(spark, tmp_path):
    """Streamed cell assignment must equal the batch assign_to_cells for
    the same delta — and the moved flag must fire exactly on the vector
    whose nearest centroid disagrees with its stored label."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.similarity import assign_to_cells
    from callio_etl_spark.streaming.incremental import (
        ivf_assign_stream,
        read_vector_stream,
    )

    cells = _cells_static(spark, tmp_path)
    src = f"{tmp_path}/vec_src"
    _mk_vectors(spark, _IVF_DELTA1).write.mode("overwrite").parquet(src)

    q = (
        ivf_assign_stream(read_vector_stream(spark, src), cells)
        .writeStream.format("memory")
        .queryName("ivf_assign_t")
        .option("checkpointLocation", f"{tmp_path}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["vec_id"], r["assigned_cell"], r["moved"])
        for r in spark.sql("select * from ivf_assign_t").collect()
    }

    batch_in = _mk_vectors(spark, _IVF_DELTA1).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    batch = {
        (r["vec_id"], r["assigned_cell"], r["moved"])
        for r in assign_to_cells(batch_in, cells).collect()
    }
    assert streamed == batch
    assert (10, 0, 0) in streamed
    assert (11, 0, 1) in streamed  # labeled 1, nearest cell 0 -> stale


def test_ivf_assign_stream_two_ticks_equal_one_batch(spark, tmp_path):
    """Index-maintenance contract: assignments accumulated over two ticks
    (delta1 then delta2, same checkpoint) must equal one batch over
    delta1+delta2 — assignment is stateless per vector, so the rolling
    index ingests deltas without drift. The second tick must process ONLY
    the new file (checkpoint bookkeeping, no reprocessing)."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.similarity import assign_to_cells
    from callio_etl_spark.streaming.incremental import (
        ivf_assign_stream,
        read_vector_stream,
    )

    cells = _cells_static(spark, tmp_path)
    src = f"{tmp_path}/vec_src2"
    ck = f"{tmp_path}/ck2"
    out = f"{tmp_path}/out2"

    def tick():
        # parquet sink: the memory sink refuses checkpoint recovery, and a
        # real index-maintenance service lands assignments durably anyway
        q = (
            ivf_assign_stream(read_vector_stream(spark, src), cells)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["vec_id"], r["assigned_cell"], r["moved"])
            for r in spark.read.parquet(out).collect()
        }

    _mk_vectors(spark, _IVF_DELTA1).write.mode("overwrite").parquet(src)
    after_t1 = tick()
    _mk_vectors(spark, _IVF_DELTA2).write.mode("append").parquet(src)
    after_t2 = tick()

    assert len(after_t1) == len(_IVF_DELTA1)
    assert len(after_t2) == len(_IVF_DELTA1) + len(_IVF_DELTA2)  # only new rows added

    batch_in = _mk_vectors(spark, _IVF_DELTA1 + _IVF_DELTA2).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    batch = {
        (r["vec_id"], r["assigned_cell"], r["moved"])
        for r in assign_to_cells(batch_in, cells).collect()
    }
    assert after_t2 == batch


def test_cms_sketch_stream_two_ticks_equal_one_batch(spark, tmp_path):
    """Count sums are additive, so the streamed sketch after two ticks must
    equal the batch sketch over the union — and the state is hard-bounded
    at CMS_DEPTH x CMS_WIDTH rows regardless of token volume."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.curation import CMS_DEPTH, CMS_WIDTH, _cms_bucket
    from callio_etl_spark.llm_ops.dedup_ops import TOKEN_RE
    from callio_etl_spark.streaming.incremental import (
        cms_sketch_stream,
        read_docs_stream,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    d1 = [(0, "alpha beta alpha gamma", "en", "s0", 0),
          (1, "beta beta delta", "en", "s0", 0)]
    d2 = [(2, "alpha epsilon epsilon zeta", "en", "s1", 0)]
    src = f"{tmp_path}/cms_src"

    def tick(batch):
        spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
        q = (
            cms_sketch_stream(read_docs_stream(spark, src))
            .writeStream.format("memory")
            .queryName("cms_t")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp_path}/cms_ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    tick(d1)
    tick(d2)
    streamed = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in spark.sql("select * from cms_t").collect()
    }

    both = spark.createDataFrame(d1 + d2, schema)
    occ = both.select(
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)).alias(
            "tok"
        )
    )
    batch = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in occ.select(
            F.posexplode(
                F.array(*[_cms_bucket(F.col("tok"), i) for i in range(CMS_DEPTH)])
            ).alias("depth", "bucket")
        )
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert streamed == batch
    assert len(streamed) <= CMS_DEPTH * CMS_WIDTH
    # every token contributes one count per depth row
    n_tokens = occ.count()
    for depth in range(CMS_DEPTH):
        assert sum(c for (d, _), c in streamed.items() if d == depth) == n_tokens


def test_snapshot_sink_stream_two_ticks_whole_commits(spark, dirs, tmp_path):
    """run_foreach_batch_snapshot: each tick lands as ONE manifest commit
    — untouched partitions carry over, the final snapshot equals the
    batch recomputation over all input, and a pinned version still reads
    tick 1's state after tick 2 committed (the isolation/time-travel
    contract at the streaming sink)."""
    from callio_etl_spark.snapshots import (
        snapshot_read,
        snapshot_versions,
    )
    from callio_etl_spark.streaming.incremental import (
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "snap_table")
    _write_batch(
        spark,
        dirs["src"],
        [_row(1, 0, 10, "call"), _row(2, 1, 11, "call"), _row(3, 2, 12, "sms")],
    )
    counts = (
        read_event_stream(spark, dirs["src"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.max("user_id").alias("max_user"))
    )
    run_foreach_batch_snapshot(counts, dirs["ck"], table, "event_type")
    v1 = {
        r["event_type"]: (r["n"], r["max_user"])
        for r in snapshot_read(spark, table).collect()
    }
    assert v1 == {"call": (2, 11), "sms": (1, 12)}
    assert len(snapshot_versions(spark, table)) == 1

    # tick 2 touches sms and adds mail; call must carry over by reference
    _write_batch(
        spark,
        dirs["src"],
        [_row(4, 3, 20, "sms"), _row(5, 4, 21, "mail")],
    )
    run_foreach_batch_snapshot(counts, dirs["ck"], table, "event_type")
    live = {
        r["event_type"]: (r["n"], r["max_user"])
        for r in snapshot_read(spark, table).collect()
    }
    assert live == {"call": (2, 11), "sms": (2, 20), "mail": (1, 21)}
    versions = snapshot_versions(spark, table)
    assert len(versions) == 2
    # pinned tick-1 state survives tick 2 (isolation + time travel)
    pinned = {
        r["event_type"]: (r["n"], r["max_user"])
        for r in snapshot_read(spark, table, version=versions[0]).collect()
    }
    assert pinned == v1


def test_streaming_ticks_drive_materialized_view(spark, dirs, tmp_path):
    """Composition: streaming snapshot commits + maintain_agg_view —
    after each tick the view catches up incrementally (change-feed pass
    over the partitions the tick touched) and equals a recompute of the
    live snapshot."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.streaming.incremental import (
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "vm_table")
    view = str(tmp_path / "vm_view")

    def prep(df):
        return df.withColumn("ev", F.col("events").cast("decimal(18,6)"))

    def advance():
        return snap.maintain_agg_view(
            spark, table, view, keys=["user_id"],
            group_cols=["event_type"], sum_cols=["ev"], prep=prep,
        )

    def view_rows():
        return sorted(
            map(tuple, snap.snapshot_read(spark, view).drop("_src_version").collect())
        )

    def recompute():
        return sorted(
            map(tuple,
                prep(snap.snapshot_read(spark, table)).groupBy("event_type").agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("ev").alias("sum_ev"),
                ).collect()))

    _write_batch(
        spark, dirs["src"],
        [_row(1, 0, 10, "call"), _row(2, 1, 11, "call"), _row(3, 2, 12, "sms")],
    )
    per_user = (
        read_event_stream(spark, dirs["src"])
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("events"))
    )
    run_foreach_batch_snapshot(per_user, dirs["ck"], table, "event_type")
    assert advance() == 1
    assert view_rows() == recompute()

    # tick 2: sms user grows, mail appears; call partition carries over —
    # the incremental pass must handle both update (user 12 count) and
    # insert (new partition) classes
    _write_batch(
        spark, dirs["src"],
        [_row(4, 3, 12, "sms"), _row(5, 4, 21, "mail")],
    )
    run_foreach_batch_snapshot(per_user, dirs["ck"], table, "event_type")
    assert advance() == 2
    assert view_rows() == recompute()


def test_snapshot_sink_audit_gate_blocks_bad_tick(spark, dirs, tmp_path):
    """run_foreach_batch_snapshot(audit_fn=...): each tick is STAGED,
    audited against the exact staged bytes, and published only on a
    truthy verdict — a failing tick is discarded (readers never see it,
    no staged manifest lingers) while the stream keeps consuming, and
    the next good tick publishes on top of the last good state."""
    from callio_etl_spark.snapshots import (
        snapshot_read,
        snapshot_staged,
        snapshot_versions,
    )
    from callio_etl_spark.streaming.incremental import (
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "gated_table")
    verdicts = []

    def audit(staged_df):
        # gate: no negative event counts may ever go live
        bad = staged_df.where(F.col("n") <= 0).count()
        verdicts.append(bad == 0)
        return bad == 0

    # tick 1: clean -> staged, audited, published
    _write_batch(spark, dirs["src"], [_row(1, 0, 10, "call"), _row(2, 1, 11, "sms")])
    counts = (
        read_event_stream(spark, dirs["src"])
        .groupBy("event_type")
        .agg(
            # value == "poison" rows count NEGATIVE: lets tick 2 drive the
            # aggregate below zero and trip the gate deterministically
            F.sum(F.when(F.col("value") == "poison", -5).otherwise(1))
            .cast("long")
            .alias("n")
        )
    )
    run_foreach_batch_snapshot(counts, dirs["ck"], table, "event_type", audit_fn=audit)
    assert verdicts == [True]
    v1 = {r["event_type"]: r["n"] for r in snapshot_read(spark, table).collect()}
    assert v1 == {"call": 1, "sms": 1}
    assert snapshot_staged(spark, table) == []
    # the published history hides the staged intermediate: one live version
    assert len(snapshot_versions(spark, table)) == 1

    # tick 2: poisoned -> staged, audit fails, DISCARDED; live unchanged
    _write_batch(spark, dirs["src"], [_row(3, 2, 12, "call", value="poison")])
    run_foreach_batch_snapshot(counts, dirs["ck"], table, "event_type", audit_fn=audit)
    assert verdicts == [True, False]
    assert {
        r["event_type"]: r["n"] for r in snapshot_read(spark, table).collect()
    } == v1
    assert snapshot_staged(spark, table) == []

    # tick 3: clean again -> publishes on top of tick 1's state (the
    # discarded tick's offsets were consumed, its rows never surface)
    _write_batch(spark, dirs["src"], [_row(4, 3, 13, "mail")])
    run_foreach_batch_snapshot(counts, dirs["ck"], table, "event_type", audit_fn=audit)
    assert verdicts == [True, False, True]
    live = {r["event_type"]: r["n"] for r in snapshot_read(spark, table).collect()}
    assert live == {"call": 1, "sms": 1, "mail": 1}


def test_snapshot_sink_merge_keys_carries_unchanged_groups(spark, dirs, tmp_path):
    """update-mode + partition coarser than the grouping key: WITHOUT
    merge_keys the rewrite of a touched partition would drop the
    unchanged groups sharing it; with merge_keys (the full grouping key)
    each tick upserts into the partition and the final state equals the
    batch recomputation."""
    from callio_etl_spark.snapshots import snapshot_read
    from callio_etl_spark.streaming.incremental import (
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "mk_table")
    # tick 1: two groups in the SAME partition (call/u10, call/u11) + sms/u12
    _write_batch(
        spark,
        dirs["src"],
        [_row(1, 0, 10, "call"), _row(2, 1, 11, "call"), _row(3, 2, 12, "sms")],
    )
    per_user = (
        read_event_stream(spark, dirs["src"])
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
    )

    def tick():
        run_foreach_batch_snapshot(
            per_user, dirs["ck"], table, "event_type",
            merge_keys=["event_type", "user_id"],
        )

    tick()
    # tick 2: updates ONLY call/u10 — call/u11 must survive the rewrite
    _write_batch(spark, dirs["src"], [_row(4, 3, 10, "call")])
    tick()
    got = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in snapshot_read(spark, table).collect()
    }
    assert got == {("call", 10): 2, ("call", 11): 1, ("sms", 12): 1}


def test_snapshot_sink_threads_layout_kwargs(spark, dirs, tmp_path):
    """bloom_cols / zorder_cols thread through every streamed tick's
    commit, so a streamed table gets the same point-lookup file pruning a
    batch-written one has (snapshot_read(point=...) skips files)."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.streaming.incremental import (
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "bl_table")
    rows1 = [_row(i, i, 100 + i, "call") for i in range(8)]
    rows2 = [_row(100 + i, 200 + i, 500 + i, "sms") for i in range(8)]
    _write_batch(spark, dirs["src"], rows1)
    per_event = (
        read_event_stream(spark, dirs["src"])
        .groupBy("event_type", "event_id")
        .agg(F.count("*").alias("n"))
    )

    def tick():
        run_foreach_batch_snapshot(
            per_event, dirs["ck"], table, "event_type",
            merge_keys=["event_type", "event_id"],
            bloom_cols=["event_id"], zorder_cols=["event_id"],
            max_records_per_file=2,
        )

    tick()
    _write_batch(spark, dirs["src"], rows2)
    tick()

    m = snap.snapshot_manifest(spark, table)
    assert m.get("bloom"), "streamed commits must record bloom bitmaps"
    # point probe: prunes to fewer files than the full scan...
    full_files = snap.snapshot_read(spark, table).inputFiles()
    probe = snap.snapshot_read(spark, table, point=("event_id", 3))
    assert len(probe.inputFiles()) < len(full_files)
    # ...and still returns the row after the exact filter
    assert probe.where(F.col("event_id") == 3).count() == 1


def test_streaming_ticks_drive_join_view(spark, dirs, tmp_path):
    """Composition: streaming snapshot commits on the FACT side + a
    static dim snapshot + maintain_join_view — after each tick (and
    after a dim flip) the join view catches up incrementally and equals
    a recompute of live fact ⋈ live dim."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.streaming.incremental import (
        run_foreach_batch_snapshot,
    )

    fact = str(tmp_path / "jv_fact")
    dim = str(tmp_path / "jv_dim")
    view = str(tmp_path / "jv_view")

    dim_df = spark.createDataFrame(
        [(10, "alpha", "d"), (11, "alpha", "d"), (12, "beta", "d"), (21, "beta", "d")],
        "user_id long, team string, dp string",
    )
    snap.snapshot_partition_overwrite(spark, dim_df, dim, "dp", keep_snapshots=10)

    def prep_f(df):
        return df.withColumn("ev", F.col("events").cast("decimal(18,6)"))

    def advance():
        return snap.maintain_join_view(
            spark, fact, dim, view,
            ["event_type", "user_id"], ["user_id"], ["user_id"],
            ["team"], ["ev"], prep_fact=prep_f,
        )

    def view_rows():
        return sorted(
            map(tuple,
                snap.snapshot_read(spark, view)
                .drop("_fact_version", "_dim_version").collect())
        )

    def recompute():
        f = prep_f(snap.snapshot_read(spark, fact))
        d = snap.snapshot_read(spark, dim)
        return sorted(
            map(tuple,
                f.join(d, "user_id").groupBy("team").agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("ev").alias("sum_ev"),
                ).collect())
        )

    _write_batch(
        spark, dirs["src"],
        [_row(1, 0, 10, "call"), _row(2, 1, 11, "call"), _row(3, 2, 12, "sms")],
    )
    per_user = (
        read_event_stream(spark, dirs["src"])
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("events"))
    )

    def tick():
        run_foreach_batch_snapshot(
            per_user, dirs["ck"], fact, "event_type",
            merge_keys=["event_type", "user_id"],
        )

    tick()
    advance()
    assert view_rows() == recompute()

    # tick 2: user 12 grows, user 21 appears (new join partner)
    _write_batch(
        spark, dirs["src"],
        [_row(4, 3, 12, "sms"), _row(5, 4, 21, "mail")],
    )
    tick()
    advance()
    assert view_rows() == recompute()

    # dim flip: user 11 changes team — the fact side is untouched, the
    # incremental path must retract 11's rows from alpha and add to beta
    dim_df2 = spark.createDataFrame(
        [(10, "alpha", "d"), (11, "beta", "d"), (12, "beta", "d"), (21, "beta", "d")],
        "user_id long, team string, dp string",
    )
    snap.snapshot_partition_overwrite(spark, dim_df2, dim, "dp", keep_snapshots=10)
    advance()
    assert view_rows() == recompute()


def test_docs_ingest_with_band_index_two_ticks(spark, tmp_path):
    """The composed ingest+index service loop
    (run_docs_ingest_with_band_index): every tick lands the batch in the
    docs snapshot table AND advances the band index through the table's
    CDC feed — after each tick the index equals band_projection of the
    live docs exactly, including across an UPDATE whose old band rows
    must be retired (same doc_id, new text in tick 2)."""
    from callio_etl_spark.llm_ops.dedup_ops import band_projection
    from callio_etl_spark.snapshots import snapshot_read
    from callio_etl_spark.streaming.incremental import (
        read_docs_stream,
        run_docs_ingest_with_band_index,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = f"{tmp_path}/docs_src"
    ck = f"{tmp_path}/ck"
    docs_p = f"{tmp_path}/docs"
    idx_p = f"{tmp_path}/idx"
    cursor = f"{tmp_path}/cursor.json"

    def tick(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        run_docs_ingest_with_band_index(
            read_docs_stream(spark, src), ck, docs_p, idx_p, cursor, "source"
        )

    def assert_parity():
        live = snapshot_read(spark, docs_p).select("doc_id", "text")
        want = {
            (r["doc_id"], r["band"], r["band_key"])
            for r in band_projection(live).collect()
        }
        got = {
            (r["doc_id"], r["band"], r["band_key"])
            for r in snapshot_read(spark, idx_p)
            .select("doc_id", "band", "band_key")
            .collect()
        }
        assert got == want

    tick(
        [
            (0, "alpha beta gamma delta", "en", "s0", 0),
            (1, "one two three four", "en", "s0", 0),
            (2, "lorem ipsum dolor sit", "en", "s1", 0),
        ]
    )
    assert_parity()
    assert snapshot_read(spark, docs_p).count() == 3

    # tick 2: new doc in s1 + an UPDATE of doc 0 (same key, new text):
    # the carried rows keep doc 1, the index retires doc 0's old bands
    tick(
        [
            (3, "fresh words arrive here", "en", "s1", 0),
            (0, "completely different text now", "en", "s0", 0),
        ]
    )
    assert_parity()
    live = snapshot_read(spark, docs_p)
    assert live.count() == 4
    assert (
        live.where(F.col("doc_id") == 0).first()["text"]
        == "completely different text now"
    )


def test_vectors_ingest_with_ivf_index_two_ticks(spark, tmp_path):
    """The composed vector ingest+index service loop
    (run_vectors_ingest_with_ivf_index — the IVF twin of the band loop):
    every tick lands the batch in the vectors snapshot table AND
    advances the postings + forward map through the table's CDC feed —
    after each tick the postings equal assign_to_cells of the live
    vectors exactly, including across an UPDATE whose negated embedding
    must move the posting to a DIFFERENT cell partition (old posting
    retired from the old cell), with the forward map in lockstep."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.similarity import assign_to_cells
    from callio_etl_spark.snapshots import snapshot_read
    from callio_etl_spark.streaming.incremental import (
        read_vector_stream,
        run_vectors_ingest_with_ivf_index,
    )

    src = f"{tmp_path}/vec_src"
    ck = f"{tmp_path}/ck"
    vp, ip, fwd = f"{tmp_path}/vecs", f"{tmp_path}/idx", f"{tmp_path}/fwd"
    cursor = f"{tmp_path}/cursor.json"
    cells = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])], "label int, cv array<double>"
    )
    schema = "vec_id long, label int, embedding array<float>"

    def tick(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        run_vectors_ingest_with_ivf_index(
            read_vector_stream(spark, src), ck, vp, ip, fwd, cursor,
            "label", cells,
        )

    def assert_parity():
        live = snapshot_read(spark, vp)
        want = {
            (r["vec_id"], r["assigned_cell"])
            for r in assign_to_cells(
                live.select(
                    "vec_id",
                    F.lit(-1).cast("int").alias("label"),
                    F.transform(
                        "embedding", lambda x: x.cast("double")
                    ).alias("v"),
                ),
                cells,
            ).collect()
        }
        got = {
            (r["vec_id"], r["assigned_cell"])
            for r in snapshot_read(spark, ip)
            .select("vec_id", "assigned_cell")
            .collect()
        }
        assert got == want
        fmap = {
            (r["vec_id"], r["assigned_cell"])
            for r in snapshot_read(spark, fwd)
            .select("vec_id", "assigned_cell")
            .collect()
        }
        assert fmap == want

    tick(
        [
            (0, 0, [2.0, 0.5]),
            (1, 0, [1.5, -0.5]),
            (2, 1, [-3.0, 0.25]),
        ]
    )
    assert_parity()
    assert snapshot_read(spark, vp).count() == 3

    # tick 2: a new vector + an UPDATE of vec 0 whose embedding is
    # negated — its nearest centroid flips, so the old posting must be
    # retired from cell 0 while the new one lands in cell 1
    tick(
        [
            (3, 1, [-0.5, 4.0]),
            (0, 0, [-2.0, -0.5]),
        ]
    )
    assert_parity()
    assert snapshot_read(spark, vp).count() == 4
    moved = (
        snapshot_read(spark, ip)
        .where(F.col("vec_id") == 0)
        .select("assigned_cell")
        .collect()
    )
    assert [r["assigned_cell"] for r in moved] == [1]


def test_snapshot_sink_widen_between_ticks(spark, tmp_path):
    """The remaining evolution x streaming cell (VERDICT r9 item 6):
    WIDEN a column (and set a table property) BETWEEN ticks of
    run_foreach_batch_snapshot — the next tick's narrow batch relaxes
    UP to the committed wide type before staging, the merge-keys carry
    reads the narrow-era files cast up in the scan projection, and the
    property rides the tick's commit untouched."""
    from pyspark.sql.types import LongType

    from callio_etl_spark.snapshots import (
        snapshot_properties,
        snapshot_read,
        snapshot_set_properties,
        snapshot_widen_column,
    )
    from callio_etl_spark.streaming.incremental import (
        run_foreach_batch_snapshot,
    )

    src = f"{tmp_path}/src"
    ck = f"{tmp_path}/ck"
    path = f"{tmp_path}/t"
    schema = "k long, cents int, p string"

    def tick(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        run_foreach_batch_snapshot(stream, ck, path, "p", merge_keys=["k"])

    tick([(1, 10, "a"), (2, 20, "a"), (3, 30, "b")])  # narrow int era

    snapshot_widen_column(spark, path, "cents", "long", keep_snapshots=5)
    snapshot_set_properties(spark, path, {"owner": "stream-test"})

    # narrow batch after the widen: k=2 updated; k=1 must be CARRIED
    # from the int-era files through the widen-aware scan (cast up)
    tick([(2, 25, "a")])

    live = snapshot_read(spark, path)
    assert isinstance(live.schema["cents"].dataType, LongType)
    got = {(r["k"], r["cents"]) for r in live.collect()}
    assert got == {(1, 10), (2, 25), (3, 30)}
    assert snapshot_properties(spark, path).get("owner") == "stream-test"


def test_snapshot_sink_segmented_manifests(spark, tmp_path):
    """The segmented-manifest x streaming-sink compose cell, BOTH sides:
    (1) the documented ContextVar caveat — wrapping the sink run in
    segment_thresholds is a silent no-op because foreachBatch executes
    on a py4j callback thread, so the commits stay INLINE; (2) the
    working recipe — the override set INSIDE the batch function (the
    thread that commits) spills every tick's manifest into
    content-addressed segments, and the merge-keys carry, reads, and a
    version-pinned read all stay correct across ticks on the spilled
    layout."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.io import _exists, _hadoop
    from callio_etl_spark.streaming.incremental import (
        run_foreach_batch_snapshot,
    )

    schema = "k long, v long, p string"

    def seg_files(path):
        import os

        d = f"{path}/__snap__"
        if not os.path.isdir(d):
            return []
        return [f for f in os.listdir(d) if f.startswith("seg_")]

    # ---- side 1: the caveat — outer override does NOT reach the sink
    src1, ck1, t1 = f"{tmp_path}/s1", f"{tmp_path}/c1", f"{tmp_path}/t1"
    spark.createDataFrame(
        [(i, i, str(i % 6)) for i in range(12)], schema
    ).write.mode("append").parquet(src1)
    with snap.segment_thresholds(1, 1):
        run_foreach_batch_snapshot(
            spark.readStream.schema(schema).parquet(src1),
            ck1, t1, "p", merge_keys=["k"],
        )
    assert seg_files(t1) == [], (
        "the outer ContextVar unexpectedly crossed into the foreachBatch "
        "thread — update segment_thresholds' documented caveat"
    )

    # ---- side 2: the recipe — override inside the batch thread spills
    src2, ck2, t2 = f"{tmp_path}/s2", f"{tmp_path}/c2", f"{tmp_path}/t2"

    def batch_fn(bdf, _bid):
        # the override is set ON THE COMMITTING THREAD (the py4j
        # callback thread running this function) — the recipe the
        # segment_thresholds docstring prescribes for streaming
        with snap.segment_thresholds(1, 1):
            snap.snapshot_partition_overwrite(
                bdf.sparkSession, bdf, t2, "p", keep_snapshots=3
            )

    def tick(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(
            src2
        )
        stream = spark.readStream.schema(schema).parquet(src2)
        q = (
            stream.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ck2)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    tick([(i, i, str(i % 6)) for i in range(12)])
    assert len(seg_files(t2)) > 0, "tick 1 did not spill segments"
    v1 = snap.snapshot_versions(spark, t2)[-1]
    tick([(100, 100, "0"), (101, 101, "99")])  # rewrite p=0, add p=99

    live = {(r["k"], r["v"]) for r in snap.snapshot_read(spark, t2).collect()}
    # p=0 was REPLACED by the second tick's overwrite (k=0,6 gone)
    want = {(i, i) for i in range(12) if i % 6 != 0} | {(100, 100), (101, 101)}
    assert live == want
    pinned = snap.snapshot_read(spark, t2, version=v1)
    assert pinned.count() == 12  # tick-1 snapshot intact on the spilled layout
    point = snap.snapshot_read(spark, t2, point=("p", "99")).collect()
    assert {r["k"] for r in point} == {101}


def test_snapshot_sink_handles_moved_merge_keys(spark, dirs, tmp_path):
    """r11 review fix: a merge key whose PARTITION VALUE changes across
    ticks must not leave a stale duplicate behind in its old partition —
    the key's old partitions are located, rewritten without the stale
    copy, and RETIRED in the same commit when emptied."""
    from callio_etl_spark.snapshots import snapshot_manifest, snapshot_read
    from callio_etl_spark.streaming.incremental import (
        read_event_stream,
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "mv_table")
    # per-user state partitioned by the user's MAX event type: a later
    # lexicographically-greater event MOVES the user's partition
    _write_batch(
        spark,
        dirs["src"],
        [
            _row(1, 0, 10, "call"),
            _row(2, 1, 11, "call"),
            _row(3, 2, 12, "sms"),
            _row(4, 3, 13, "walk"),
        ],
    )
    per_user = (
        read_event_stream(spark, dirs["src"])
        .groupBy("user_id")
        .agg(F.max("event_type").alias("etype"), F.count("*").alias("n"))
    )

    def tick():
        run_foreach_batch_snapshot(
            per_user, dirs["ck"], table, "etype", merge_keys=["user_id"]
        )

    tick()
    assert {
        (r["user_id"], r["etype"], r["n"])
        for r in snapshot_read(spark, table).collect()
    } == {(10, "call", 1), (11, "call", 1), (12, "sms", 1), (13, "walk", 1)}

    # tick 2: u10 moves call -> zcall (call partition keeps u11);
    # u13 moves walk -> zwalk (the walk partition EMPTIES)
    _write_batch(
        spark, dirs["src"], [_row(5, 4, 10, "zcall"), _row(6, 5, 13, "zwalk")]
    )
    tick()
    got = {
        (r["user_id"], r["etype"], r["n"])
        for r in snapshot_read(spark, table).collect()
    }
    assert got == {
        (10, "zcall", 2),
        (11, "call", 1),
        (12, "sms", 1),
        (13, "zwalk", 2),
    }, f"stale moved-key copies survived: {got}"
    leaves = snapshot_manifest(spark, table)["partitions"]
    assert "etype=walk" not in leaves, "emptied old partition not retired"
    assert "etype=call" in leaves  # u11 still lives there


def test_snapshot_sink_retires_non_string_partition_leaves(
    spark, dirs, tmp_path
):
    """r12 ADVICE fix: retire leaf names must render through the snapshot
    layer's writer-exact helper, not a bare f-string — a BOOLEAN
    partition value writes the dir 'flag=true' but str(True) is 'True',
    so the f-string form would silently leave the emptied old partition
    alive (retire_leaves would not even find the leaf)."""
    from callio_etl_spark.snapshots import snapshot_manifest, snapshot_read
    from callio_etl_spark.streaming.incremental import (
        read_event_stream,
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "bool_table")
    # per-user state partitioned by a BOOLEAN (any event_type >= 'w'):
    # a later 'z*' event flips the user's flag and MOVES its partition
    _write_batch(
        spark, dirs["src"], [_row(1, 0, 10, "call"), _row(2, 1, 11, "call")]
    )
    per_user = (
        read_event_stream(spark, dirs["src"])
        .groupBy("user_id")
        .agg(
            (F.max("event_type") >= "w").alias("flag"),
            F.count("*").alias("n"),
        )
    )

    def tick():
        run_foreach_batch_snapshot(
            per_user, dirs["ck"], table, "flag", merge_keys=["user_id"]
        )

    tick()
    leaves = snapshot_manifest(spark, table)["partitions"]
    assert "flag=false" in leaves, f"writer leaf rendering drifted: {leaves}"

    # tick 2: BOTH users flip false -> true; the false partition EMPTIES
    _write_batch(
        spark, dirs["src"], [_row(3, 2, 10, "zcall"), _row(4, 3, 11, "zsms")]
    )
    tick()
    got = {
        (r["user_id"], r["flag"], r["n"])
        for r in snapshot_read(spark, table).collect()
    }
    assert got == {(10, True, 2), (11, True, 2)}, f"stale copies: {got}"
    leaves = snapshot_manifest(spark, table)["partitions"]
    assert "flag=false" not in leaves, (
        f"emptied boolean partition not retired (leaf rendering): {leaves}"
    )
    assert "flag=true" in leaves


def test_snapshot_sink_merge_keys_survive_staged_only_history(
    spark, dirs, tmp_path
):
    """r11 review fix: a table whose first tick was STAGED and discarded
    (audit false) has a manifest dir but no published head — the next
    merge_keys tick must take the CREATE path instead of crashing every
    replay on snapshot_read('no published snapshot')."""
    from callio_etl_spark.snapshots import snapshot_read
    from callio_etl_spark.streaming.incremental import (
        read_event_stream,
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "st_table")
    _write_batch(spark, dirs["src"], [_row(1, 0, 10, "call")])
    per_user = (
        read_event_stream(spark, dirs["src"])
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
    )

    def tick(ok):
        run_foreach_batch_snapshot(
            per_user, dirs["ck"], table, "event_type",
            merge_keys=["event_type", "user_id"],
            audit_fn=lambda df: ok,
        )

    tick(False)  # staged + discarded: dir exists, no published head
    _write_batch(spark, dirs["src"], [_row(2, 1, 11, "call")])
    tick(True)  # must not crash; creates the table from this tick
    got = {
        (r["user_id"], r["n"]) for r in snapshot_read(spark, table).collect()
    }
    # tick 1's batch was discarded by its audit (offset committed: the
    # firewall drops poisoned batches); tick 2 lands only its own delta
    assert got == {(11, 1)}


def test_running_checkpoint_stream_survives_null_timestamps(spark, dirs):
    """r11 review fix: an all-null-ts chunk for a tenant must not poison
    the stateful checkpoint operator (int(NaN) raised in the Python
    worker and the restart replayed the same rows forever); null-ts rows
    count toward rows_total but never move the checkpoint."""
    from callio_etl_spark.streaming.incremental import (
        read_event_stream,
        run_foreach_batch_merge,
        running_checkpoint_stream,
    )

    _write_batch(
        spark,
        dirs["src"],
        [
            (1, None, 10, "heartbeat", "v"),  # null ts
            (2, None, 11, "heartbeat", "v"),  # null ts
            _row(3, 5, 12, "customer"),
        ],
    )
    stream = running_checkpoint_stream(read_event_stream(spark, dirs["src"]))
    sink = lambda batch: batch.write.mode("append").parquet(dirs["out"])  # noqa: E731
    run_foreach_batch_merge(stream, dirs["ck"], sink)
    out = {r["tenant"]: r for r in spark.read.parquet(dirs["out"]).collect()}
    assert out["heartbeat"]["rows_total"] == 2
    assert out["heartbeat"]["max_ts_ms"] == 0  # never moved by null ts
    assert out["customer"]["rows_total"] == 1


def test_snapshot_sink_moved_keys_compose_with_audit(spark, dirs, tmp_path):
    """Compose r11's moved-key handling with the write-audit-publish
    firewall: the retire of an emptied old partition rides the STAGED
    commit — a rejected tick discards both the data and the retirement
    (old state fully intact), an accepted tick publishes both."""
    from callio_etl_spark.snapshots import snapshot_manifest, snapshot_read
    from callio_etl_spark.streaming.incremental import (
        read_event_stream,
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "av_table")
    _write_batch(
        spark, dirs["src"], [_row(1, 0, 10, "call"), _row(2, 1, 13, "walk")]
    )
    per_user = (
        read_event_stream(spark, dirs["src"])
        .groupBy("user_id")
        .agg(F.max("event_type").alias("etype"), F.count("*").alias("n"))
    )
    verdicts = []

    def tick(ok):
        run_foreach_batch_snapshot(
            per_user, dirs["ck"], table, "etype", merge_keys=["user_id"],
            audit_fn=lambda df: (verdicts.append(ok), ok)[1],
        )

    tick(True)
    base = {
        (r["user_id"], r["etype"], r["n"])
        for r in snapshot_read(spark, table).collect()
    }
    assert base == {(10, "call", 1), (13, "walk", 1)}

    # u13 moves walk -> zwalk (emptying walk), but the audit REJECTS:
    # the stale state must survive untouched, including the walk leaf
    _write_batch(spark, dirs["src"], [_row(3, 2, 13, "zwalk")])
    tick(False)
    assert {
        (r["user_id"], r["etype"], r["n"])
        for r in snapshot_read(spark, table).collect()
    } == base
    assert "etype=walk" in snapshot_manifest(spark, table)["partitions"]

    # the same move re-lands (new event keeps max at zwalk) and the
    # audit ACCEPTS: data + retirement publish together
    _write_batch(spark, dirs["src"], [_row(4, 3, 13, "zwalk")])
    tick(True)
    got = {
        (r["user_id"], r["etype"], r["n"])
        for r in snapshot_read(spark, table).collect()
    }
    assert got == {(10, "call", 1), (13, "zwalk", 3)}
    leaves = snapshot_manifest(spark, table)["partitions"]
    assert "etype=walk" not in leaves
    assert verdicts == [True, False, True]


def test_snapshot_sink_key_literal_cap_fallback(
    spark, dirs, tmp_path, monkeypatch
):
    """r12 review fix: a backlog/bootstrap tick whose changed-key count
    exceeds the literal cap falls back to DISTRIBUTED key frames instead
    of collecting millions of keys to the driver — and the fallback path
    must still carry unchanged groups, drop stale moved-key copies, and
    retire emptied partitions."""
    from callio_etl_spark.streaming import incremental as inc
    from callio_etl_spark.snapshots import snapshot_manifest, snapshot_read

    monkeypatch.setattr(inc, "_KEY_LITERAL_CAP", 2)  # force the fallback
    table = str(tmp_path / "cap_table")
    _write_batch(
        spark,
        dirs["src"],
        [
            _row(1, 0, 10, "call"),
            _row(2, 1, 11, "call"),
            _row(3, 2, 12, "sms"),
            _row(4, 3, 13, "walk"),
        ],
    )
    per_user = (
        inc.read_event_stream(spark, dirs["src"])
        .groupBy("user_id")
        .agg(F.max("event_type").alias("etype"), F.count("*").alias("n"))
    )

    def tick():
        inc.run_foreach_batch_snapshot(
            per_user, dirs["ck"], table, "etype", merge_keys=["user_id"]
        )

    tick()
    # tick 2 (> cap distinct keys): u10 moves call -> zcall, u13 empties
    # the walk partition; u11/u12 untouched groups must be carried
    _write_batch(
        spark, dirs["src"], [_row(5, 4, 10, "zcall"), _row(6, 5, 13, "zwalk")]
    )
    tick()
    got = {
        (r["user_id"], r["etype"], r["n"])
        for r in snapshot_read(spark, table).collect()
    }
    assert got == {
        (10, "zcall", 2),
        (11, "call", 1),
        (12, "sms", 1),
        (13, "zwalk", 2),
    }, f"fallback path diverged: {got}"
    leaves = snapshot_manifest(spark, table)["partitions"]
    assert "etype=walk" not in leaves, "fallback did not retire emptied leaf"
    assert "etype=call" in leaves


def test_snapshot_sink_moved_keys_non_string_partitions(spark, dirs, tmp_path):
    """ADVICE r13: every collected partition value in the upsert carry
    path is set-deduped through ONE _hashable normalization with the
    original kept for plan rendering (isin literals, _leaf_name) —
    this drives the moved-key lookup, the carry anti-join, and the
    emptied-partition retire through part_originals with a DATE
    partition column (collected as datetime.date, rendered by the
    snapshot layer's date form), the realistic non-string atomic."""
    from callio_etl_spark.snapshots import snapshot_manifest, snapshot_read
    from callio_etl_spark.streaming.incremental import (
        read_event_stream,
        run_foreach_batch_snapshot,
    )

    table = str(tmp_path / "mvd_table")
    # per-user state partitioned by the user's MAX event DATE: a later
    # event MOVES the user's partition to the new day
    _write_batch(
        spark,
        dirs["src"],
        [
            _row(1, 0, 10, "call"),
            _row(2, 1, 11, "call"),
            _row(3, 24 * 60, 12, "sms"),  # day 2
        ],
    )
    per_user = (
        read_event_stream(spark, dirs["src"])
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("d"),
            F.count("*").alias("n"),
        )
    )

    def tick():
        run_foreach_batch_snapshot(
            per_user, dirs["ck"], table, "d", merge_keys=["user_id"]
        )

    tick()
    assert snapshot_read(spark, table).count() == 3

    # tick 2: u12 moves day2 -> day3 (day-2 partition EMPTIES and must be
    # retired via the part_originals date rendering); u10 stays on day 1
    _write_batch(spark, dirs["src"], [_row(4, 2 * 24 * 60, 12, "sms")])
    tick()
    got = {
        (r["user_id"], str(r["d"]), r["n"])
        for r in snapshot_read(spark, table).collect()
    }
    assert got == {
        (10, "2024-01-01", 1),
        (11, "2024-01-01", 1),
        (12, "2024-01-03", 2),
    }, f"moved-key carry broke on date partitions: {got}"
    leaves = snapshot_manifest(spark, table)["partitions"]
    assert "d=2024-01-02" not in leaves, "emptied date partition survived"
    assert "d=2024-01-01" in leaves
