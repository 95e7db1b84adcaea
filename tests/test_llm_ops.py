"""LLM-pipeline operator tests: deterministic stubs, signature properties."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from callio_etl_spark.llm_ops.multimodal import (
    decode_image_stub,
    extract_media_features,
    media_table,
)
from tests.conftest import SF_DIR


def test_media_features_deterministic(spark):
    m = media_table(spark, SF_DIR)
    out = extract_media_features(m)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == m.count()
    # recompute one row's features locally — must match the UDF exactly
    sample = m.where(F.col("doc_id") == 0).collect()[0]
    w, h, feats = decode_image_stub(bytes(sample["payload"]))
    got = rows[0]
    assert (got["width"], got["height"]) == (w, h)
    assert list(got["features"]) == feats
    assert got["byte_len"] == len(bytes(sample["payload"]))
    # schema contract (what a real decoder must keep producing)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "media_type", "byte_len", "width", "height", "features",
    ]


def test_minhash_candidates_superset_of_exact_dupes(spark):
    """Docs with identical token SETS must collide on every band -> any
    exact-duplicate pair is an LSH candidate pair (recall=1 for J=1)."""
    from callio_etl_spark.llm_ops.dedup_ops import minhash_lsh_pairs, _words

    d = spark.createDataFrame(
        [(1, "spark table merge"), (2, "merge spark table"), (3, "utterly different words")],
        "doc_id long, text string",
    )
    d.createOrReplaceTempView("_docs_tmp")
    # run the operator on a tiny in-memory frame via the same internals
    import callio_etl_spark.llm_ops.dedup_ops as ops

    sig = d.select("doc_id", ops._minhash_sig(ops._words(F.col("text"))).alias("mins"))
    sigs = {r["doc_id"]: tuple(r["mins"]) for r in sig.collect()}
    assert sigs[1] == sigs[2]  # same token set -> identical signature
    assert sigs[1] != sigs[3]


def test_simhash_similarity_property(spark):
    from callio_etl_spark.llm_ops.dedup_ops import simhash

    # identical token sets -> identical simhash; disjoint sets -> (almost
    # surely) different signature
    d = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"), (3, "zz yy xx ww vv uu")],
        "doc_id long, text string",
    )
    import callio_etl_spark.llm_ops.dedup_ops as ops

    hs = F.transform(ops._words(F.col("text")), lambda w: F.md5(w))
    # reuse the registered op by mimicking its projection on this frame
    from pyspark.sql import DataFrame

    out = {r["doc_id"]: r["simhash16"] for r in _simhash_frame(d).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def _simhash_frame(d):
    import callio_etl_spark.llm_ops.dedup_ops as ops

    hs = F.transform(ops._words(F.col("text")), lambda w: F.md5(w))
    hexmap = "0123456789abcdef"

    def bit(p):
        tot = F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (2 * (F.instr(F.lit(hexmap), F.substring(h, p, 1)) - 1).cast("long") - 15),
        )
        return F.when(tot > 0, "1").otherwise("0")

    return d.select("doc_id", F.concat(*[bit(p) for p in range(1, 17)]).alias("simhash16"))


def test_connected_components_known_graph(spark):
    """Two chains + an isolated node: labels converge to the min node id of
    each component regardless of edge direction or order."""
    from callio_etl_spark.llm_ops.dedup_ops import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "node long")
    # component {1,2,3,4} via chain, component {5,6} — 7 isolated
    edges = spark.createDataFrame(
        [(4, 3), (2, 1), (3, 2), (6, 5)], "src long, dst long"
    )
    got = {
        (r["node"], r["comp"])
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7)}


def test_approx_sketch_stats_error_bounds(spark):
    """HLL estimate within 3*rsd of exact; approx quantiles within the exact
    p25..p75 / p95..max envelopes (accuracy=10k on ~2k rows per group is
    near-exact; the loose envelope keeps the test sketch-implementation
    agnostic)."""
    from callio_etl_spark.queries.advanced import approx_sketch_stats

    sf = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: r for r in approx_sketch_stats(spark, sf).collect()
    }
    exact = {
        r["event_type"]: r
        for r in (
            spark.read.parquet(f"{sf}/events.parquet")
            .groupBy("event_type")
            .agg(
                F.countDistinct("user_id").alias("users"),
                F.percentile("value", 0.25).alias("p25"),
                F.percentile("value", 0.5).alias("p50"),
                F.percentile("value", 0.75).alias("p75"),
                F.percentile("value", 0.95).alias("p95"),
                F.max("value").alias("vmax"),
            )
            .collect()
        )
    }
    assert set(approx) == set(exact)
    for t, a in approx.items():
        x = exact[t]
        assert abs(a["approx_users"] - x["users"]) <= 3 * 0.02 * x["users"] + 1
        assert x["p25"] <= a["value_p50"] <= x["p75"]
        assert x["p95"] <= a["value_p99"] <= x["vmax"]


def test_gemm_topk_ranks_match_exact_bruteforce(spark):
    """The BLAS fast path must produce the same neighbors in the same order
    as the oracle-checked sequential brute force (fp reassociation moves
    cosines by ~1e-16, far below any rank gap in this data)."""
    from callio_etl_spark.llm_ops.similarity import ann_topk_brute, ann_topk_gemm

    sf = "/root/testdata/sf0.01"
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_topk_brute(spark, sf).collect()
    }
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_topk_gemm(spark, sf).collect()
    }
    assert got == want


def test_hash_split_fractions_and_determinism(spark):
    """80/10/10 within binomial tolerance on 500 docs; rerunning assigns
    identical membership (pure function of the key)."""
    from callio_etl_spark.llm_ops.sampling import hash_split

    sf = "/root/testdata/sf0.01"
    a = {r["doc_id"]: r["split"] for r in hash_split(spark, sf).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(spark, sf).collect()}
    assert a == b
    n = len(a)
    counts = {s: sum(1 for v in a.values() if v == s) for s in ("train", "valid", "test")}
    assert abs(counts["train"] / n - 0.8) < 0.06
    assert abs(counts["valid"] / n - 0.1) < 0.05
    assert abs(counts["test"] / n - 0.1) < 0.05


def test_star_cc_matches_propagation_and_known_graph(spark):
    """large-star/small-star CC must produce the identical (node, comp)
    labeling as the min-label baseline on a graph with chains, a clique, and
    an isolated node."""
    from callio_etl_spark.llm_ops.dedup_ops import (
        connected_components,
        connected_components_star,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "node long")
    # chain {1..4}, triangle {5,6,7}, pair {8,9}
    edges = spark.createDataFrame(
        [(4, 3), (2, 1), (3, 2), (5, 6), (6, 7), (7, 5), (8, 9)],
        "src long, dst long",
    )
    want = {
        (r["node"], r["comp"]) for r in connected_components(nodes, edges).collect()
    }
    got = {
        (r["node"], r["comp"])
        for r in connected_components_star(nodes, edges).collect()
    }
    assert got == want == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 5), (8, 8), (9, 8),
    }


def test_star_cc_chain_converges_logarithmically(spark):
    """Adversarial length-64 chain: plain min-label propagation needs ~n
    rounds; large-star/small-star must finish in O(log n) — the paper's
    bound. Also asserts the labels are exactly right."""
    from callio_etl_spark.llm_ops.dedup_ops import _star_rounds, connected_components_star

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    _, rounds = _star_rounds(edges, max_iter=25)
    assert rounds <= 9, f"chain-{n} took {rounds} star rounds"  # ~log2(64)=6 + slack
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    labels = {
        r["node"]: r["comp"]
        for r in connected_components_star(nodes, edges).collect()
    }
    assert labels == {i: 0 for i in range(n)}


def test_bucketed_neardup_equals_baseline_within_buckets(spark):
    """embedding_neardup_bucketed must equal the exact all-pairs baseline
    restricted to same-bucket pairs (the documented recall contract of the
    IVF path: it searches only within the coarse partition)."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.dedup_ops import (
        embedding_neardup,
        embedding_neardup_bucketed,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "label")
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    base = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_neardup(spark, sf).collect()
        if labels[r["vec_a"]] == labels[r["vec_b"]]
    }
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_neardup_bucketed(spark, sf).collect()
    }
    assert got.keys() == base.keys()
    for k, v in got.items():
        assert v == base[k]  # same sequential fold -> bit-identical


def test_dedup_pipeline_survivor_invariants(spark):
    """Pipeline output invariants (the oracle checks values; this checks
    shape): every cluster has exactly one survivor, the survivor is the min
    doc_id of its cluster, and sizes sum to the corpus size."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.dedup_ops import dedup_pipeline

    sf = "/root/testdata/sf0.001"
    rows = dedup_pipeline(spark, sf).collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(rows) == n_docs
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert min(m["doc_id"] for m in members) == cid
        survivors = [m for m in members if m["is_survivor"]]
        assert len(survivors) == 1 and survivors[0]["doc_id"] == cid
        assert all(m["cluster_size"] == len(members) for m in members)


def test_decode_image_real_gated_on_pillow(spark):
    """The real decoder path: with Pillow absent it must raise
    NotImplementedError (honest stub contract); with Pillow present it must
    decode a real PNG through the same extract_media_features plumbing."""
    import pytest

    from callio_etl_spark.llm_ops import multimodal as mm

    if not mm.has_pillow():
        with pytest.raises(NotImplementedError):
            mm.decode_image_real(b"\x89PNG fake")
        pytest.skip("Pillow not installed; real-decode path gated off")

    # real path (runs only where Pillow exists)
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (8, 4), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    w, h, feats = mm.decode_image_real(png)
    assert (w, h) == (8, 4)
    assert feats[0] == 1.0 and feats[1] == 0.0 and feats[2] == 0.0
    assert feats[3] == 2.0  # aspect ratio
    media = spark.createDataFrame(
        [(1, bytearray(png), "image")], "doc_id long, payload binary, media_type string"
    )
    out = mm.extract_media_features(media, decoder=mm.decode_image_real).collect()
    assert out[0]["width"] == 8 and out[0]["height"] == 4


def test_frame_sample_slices_match_local_recompute(spark):
    """Every emitted frame_sig must equal the hex of the payload slice at
    frame_idx*FRAME_BYTES, and indices must be the kept multiples of
    FRAME_EVERY_N strictly inside the payload."""
    import callio_etl_spark.llm_ops.multimodal as mm

    m = mm.media_table(spark, SF_DIR).where(F.col("media_type") == "video")
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in m.collect()}
    out = mm.frame_sample(spark, SF_DIR).collect()
    assert out, "expected at least one sampled frame at sf0.001"
    seen = {}
    for r in out:
        b = payloads[r["doc_id"]]
        start = r["frame_idx"] * mm.FRAME_BYTES
        assert r["frame_idx"] % mm.FRAME_EVERY_N == 0
        assert start + mm.FRAME_BYTES <= len(b)  # tail partials dropped
        expect = b[start : start + mm.FRAME_BYTES].hex().upper()[:16]
        assert r["frame_sig"] == expect
        seen.setdefault(r["doc_id"], []).append(r["frame_idx"])
    # per doc: exactly the multiples of FRAME_EVERY_N below n_frames
    for doc_id, idxs in seen.items():
        n = len(payloads[doc_id]) // mm.FRAME_BYTES
        assert sorted(idxs) == list(range(0, n, mm.FRAME_EVERY_N))


def test_media_resize_fit_in_box(spark):
    """Resize planning: aspect preserved, fits the box, never upscales."""
    import callio_etl_spark.llm_ops.multimodal as mm

    rows = mm.media_resize(spark, SF_DIR).collect()
    assert rows
    bw, bh = mm.RESIZE_BOX
    for r in rows:
        s = min(bw / r["width"], bh / r["height"], 1.0)
        assert r["new_width"] == max(1, int(r["width"] * s))
        assert r["new_height"] == max(1, int(r["height"] * s))
        assert r["new_width"] <= bw and r["new_height"] <= bh
        assert r["scale"] == s


def test_parse_image_header_real_formats():
    """The vendored header parser reads genuine format bytes — a Pillow-free
    real decode (VERDICT r3 item 5): PNG IHDR big-endian, JPEG SOFn found by
    walking the segment chain past APP0/DQT, GIF little-endian; garbage and
    truncated inputs return None (stub fallback)."""
    import struct

    import callio_etl_spark.llm_ops.multimodal as mm

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    assert mm.parse_image_header(png + b"pixels") == (640, 480)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xdb\x00\x05" + b"\x00" * 3  # a DQT segment to skip over
        + b"\xff\xc2\x00\x11\x08" + struct.pack(">HH", 300, 200)  # SOF2 h,w
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    assert mm.parse_image_header(jpeg + b"scan") == (200, 300)
    gif = b"GIF89a" + struct.pack("<HH", 320, 240)
    assert mm.parse_image_header(gif + b"\x00" * 4) == (320, 240)
    assert mm.parse_image_header(b"plain text payload") is None
    assert mm.parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") is None  # trunc
    assert mm.parse_image_header(b"\xff\xd8\xff\xd9") is None  # SOI then EOI


def test_image_table_header_roundtrip(spark):
    """image_table embeds md5-derived dims as real header fields; the parser
    must recover exactly those dims from the payload bytes for every row,
    and decode_media must take the real-parse path (power-of-two features),
    not the stub."""
    import hashlib

    import callio_etl_spark.llm_ops.multimodal as mm

    rows = mm.image_table(spark, SF_DIR).collect()
    assert rows and {r["format"] for r in rows} == {"png", "jpeg"}
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    text = {r["doc_id"]: r["text"] for r in d.collect()}
    for r in rows:
        payload = bytes(r["payload"])
        h = hashlib.md5(text[r["doc_id"]].encode()).digest()
        want = (64 + h[0], 64 + h[1])
        assert mm.parse_image_header(payload) == want
        w, hh, feats = mm.decode_media(payload)
        assert (w, hh) == want
        assert feats == [
            w / 256.0, hh / 256.0, len(payload) / 1024.0, (w * hh) / 65536.0,
        ]


def test_parse_audio_header_walks_riff_chunks():
    """WAV parser: canonical 44-byte header, chunk chain with a LIST chunk
    before fmt/data (word-aligned odd sizes), declared-size clamping, and
    None for non-WAV / truncated payloads."""
    import struct

    import callio_etl_spark.llm_ops.multimodal as mm

    def wav(channels, rate, bits, data, extra_chunks=b""):
        fmt = struct.pack("<HHIIHH", 1, channels, rate,
                          rate * channels * bits // 8, channels * bits // 8, bits)
        chunks = extra_chunks + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    assert mm.parse_audio_header(wav(2, 44100, 16, b"\x00" * 400)) == (2, 44100, 16, 400)
    # LIST chunk with an ODD size first: parser must skip it word-aligned
    lst = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"
    assert mm.parse_audio_header(wav(1, 8000, 8, b"\x01" * 7, extra_chunks=lst)) == (1, 8000, 8, 7)
    # declared data size larger than actual bytes -> clamped
    truncated = wav(1, 16000, 16, b"\x00" * 100)[:-40]
    got = mm.parse_audio_header(truncated)
    assert got == (1, 16000, 16, 60)
    assert mm.parse_audio_header(b"not audio at all, just text") is None
    assert mm.parse_audio_header(b"RIFF\x00\x00\x00\x00AVI LIST") is None


def test_audio_table_header_roundtrip(spark):
    """audio_table embeds md5-derived channels/rate as real little-endian
    RIFF fields; parse_audio_header must recover them for every row and
    audio_features' duration must derive from parsed values only."""
    import hashlib

    import callio_etl_spark.llm_ops.multimodal as mm

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    text = {r["doc_id"]: r["text"] for r in d.collect()}
    rows = mm.audio_table(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        h = hashlib.md5(text[r["doc_id"]].encode()).digest()
        body_len = len(text[r["doc_id"]].encode())
        want = (h[0] % 2 + 1, 8000 + h[1] * 128, 16, body_len)
        assert mm.parse_audio_header(bytes(r["payload"])) == want
    feats = {r["doc_id"]: r for r in mm.audio_features(spark, SF_DIR).collect()}
    assert set(feats) == {r["doc_id"] for r in rows}
    for r in feats.values():
        frames = r["data_len"] // (r["channels"] * 2)
        assert r["n_frames"] == frames
        assert r["duration_ms"] == frames / r["sample_rate"] * 1000.0


def test_embedding_lsh_buckets_collide_similar_vectors(spark):
    """Sign-LSH property on CONSTRUCTED vectors (the testdata embeddings are
    direction-unstructured, so labels say nothing about cosine): a vector
    and its slightly-perturbed copy share a bucket; its negation flips
    every bit (bucket XOR 255); and the registered query plans as a pure
    projection (zero exchanges) with all buckets in range."""
    import random

    from callio_etl_spark.llm_ops.similarity import (
        EMB_DIM,
        embedding_lsh_buckets,
        lsh_bucket_col,
    )

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(20)]
    rows = []
    for k, u in enumerate(base):
        rows.append((3 * k, u))
        rows.append((3 * k + 1, [x + rng.gauss(0, 1e-6) for x in u]))  # near-dup
        rows.append((3 * k + 2, [-x for x in u]))  # antipode
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = {
        r["vec_id"]: r["bucket"]
        for r in df.select("vec_id", lsh_bucket_col(F.col("v")).alias("bucket")).collect()
    }
    for k in range(len(base)):
        assert got[3 * k] == got[3 * k + 1], k  # near-dup collides
        assert got[3 * k + 2] == got[3 * k] ^ 255, k  # negation flips all bits

    out = embedding_lsh_buckets(spark, "/root/testdata/sf0.001")
    assert all(0 <= r["bucket"] < 256 for r in out.collect())
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan  # one scan, zero shuffles


def test_lsh_bucket_col_rejects_wrong_dimension(spark):
    """A vector whose length differs from EMB_DIM must raise, not produce a
    silently degenerate bucket (zip_with NULL-pads the shorter side)."""
    import pytest

    from callio_etl_spark.llm_ops.similarity import lsh_bucket_col

    df = spark.createDataFrame([(1, [1.0] * 8)], "vec_id long, v array<double>")
    with pytest.raises(Exception, match="expected 64-dim"):
        df.select(lsh_bucket_col(F.col("v")).alias("b")).collect()


def test_lsh_buckets_arrow_matches_literal_path(spark):
    """The Arrow GEMM path (production dims) must assign the same bucket as
    the codegen'd decimal-literal path (oracle parity form) on the real
    embeddings table — non-degenerate dot products, so float-vs-decimal
    sign agreement holds."""
    from callio_etl_spark.llm_ops.similarity import lsh_bucket_col, lsh_buckets_arrow
    from callio_etl_spark.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    literal = {
        r["vec_id"]: r["bucket"]
        for r in e.select("vec_id", lsh_bucket_col(F.col("v")).alias("bucket")).collect()
    }
    arrow = {
        r["vec_id"]: r["bucket"] for r in lsh_buckets_arrow(e, "v").collect()
    }
    assert arrow == literal
    assert len(arrow) > 0


def test_lsh_buckets_arrow_rejects_wrong_dimension(spark):
    import pytest

    from callio_etl_spark.llm_ops.similarity import lsh_buckets_arrow

    df = spark.createDataFrame([(1, [1.0] * 8)], "vec_id long, v array<double>")
    with pytest.raises(Exception, match="expected 64-dim"):
        lsh_buckets_arrow(df, "v").collect()


def test_bloom_prefilter_has_no_false_negatives(spark):
    """The bloom prefilter may pass extra shingles but must never drop a
    true benchmark member — bloom_decontaminate's result must equal the
    exact join's per-source totals (here cross-checked by construction on
    the real table: the oracle comparison covers values; this asserts the
    query is insensitive to the bitmap literal by recomputing with the
    exact path inline)."""
    from callio_etl_spark.llm_ops.text_analysis import (
        BENCH_MOD,
        SHINGLE_N,
        TOKEN_RE,
        bloom_decontaminate,
    )
    from callio_etl_spark.tables import load_table

    got = {
        (r["source"], r["n_docs_contaminated"], r["n_hit_shingles"])
        for r in bloom_decontaminate(spark, SF_DIR).collect()
    }
    d = load_table(spark, SF_DIR, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    n_win = F.greatest(F.size(toks) - (SHINGLE_N - 1), F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.array_join(F.slice(toks, i, SHINGLE_N), " "),
    )
    sh = d.select(
        "doc_id", "source", F.explode(shingles).alias("s")
    ).dropDuplicates(["doc_id", "s"])
    bench = sh.where(F.col("doc_id") % BENCH_MOD == 0).select("s").distinct()
    exact = (
        sh.where(F.col("doc_id") % BENCH_MOD != 0)
        .join(bench, "s")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_hit"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_hit").alias("n_sh"),
        )
    )
    want = {
        (r["source"], r["n_docs"], r["n_sh"]) for r in exact.collect()
    }
    assert got == want and got


def test_length_batching_invariants(spark):
    """Batches partition the corpus, sizes differ by at most one, and
    within the descending-length ntile assignment every batch's max_len is
    >= the next batch's max_len (sorted batching dominates random
    batching's padding)."""
    from callio_etl_spark.llm_ops.chunking import length_batching
    from callio_etl_spark.tables import load_table

    rows = sorted(
        (r["batch_id"], r["batch_size"], r["max_len"], r["padding_waste"])
        for r in length_batching(spark, SF_DIR).collect()
    )
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r[1] for r in rows) == n_docs
    sizes = {r[1] for r in rows}
    assert max(sizes) - min(sizes) <= 1
    maxes = [r[2] for r in rows]
    assert maxes == sorted(maxes, reverse=True)
    assert all(r[3] >= 0 for r in rows)


def test_embedding_outliers_rank_orders_by_distance(spark):
    """Within each label, outlier_rank 1 carries the minimum centroid
    cosine and ranks are a permutation of 1..n."""
    from collections import defaultdict

    from callio_etl_spark.llm_ops.similarity import embedding_outliers

    by_label = defaultdict(list)
    for r in embedding_outliers(spark, SF_DIR).collect():
        by_label[r["label"]].append((r["outlier_rank"], r["centroid_cos"]))
    assert by_label
    for label, rows in by_label.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        cosines = [r[1] for r in rows]
        assert cosines == sorted(cosines)


def test_unigram_rarity_bounds(spark):
    """min_freq >= 1, sum_freq >= n_tokens (every token occurs at least
    once in the corpus — itself), and mean = sum/count exactly."""
    from callio_etl_spark.llm_ops.text_analysis import unigram_rarity

    rows = unigram_rarity(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["min_freq"] >= 1
        assert r["sum_freq"] >= r["n_tokens"]
        assert r["mean_token_freq"] == r["sum_freq"] / r["n_tokens"]


def test_multi_probe_recall_monotone_and_strictly_better(spark):
    """Multi-probe IVF searches the query's own cell plus its nearest other
    cell, so its candidate set is a superset of single-probe's: recall@k
    must be per-query monotone, and on the shipped embeddings the total
    improvement is strict (the nprobe dial actually buys recall)."""
    from callio_etl_spark.llm_ops.similarity import ann_recall_ivf_probe

    rows = ann_recall_ivf_probe(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["hits_probe"] >= r["hits_single"], r
        assert r["recall_probe"] == r["hits_probe"] / r["k"]
    assert sum(r["hits_probe"] for r in rows) > sum(r["hits_single"] for r in rows)


def test_multi_probe_candidates_superset_of_single_probe(spark):
    """Every (query, neighbor) the single-probe IVF returns at rank <= k is
    scored by the multi-probe run too — and where both rank a neighbor, the
    multi-probe rank can only be equal or worse-numbered (more candidates
    compete), never missing."""
    from callio_etl_spark.llm_ops.similarity import ann_topk_ivf, ann_topk_ivf_probe

    single = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in ann_topk_ivf(spark, SF_DIR).collect()
    }
    multi_all = ann_topk_ivf_probe(spark, SF_DIR).collect()
    multi_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in multi_all}
    # single-probe's top-k all came from the own cell, which multi-probe
    # also scans — any of them absent from multi's top-k must have been
    # displaced by a strictly-better candidate from the probed cell
    per_query_min = {}
    for r in multi_all:
        q = r["query_id"]
        per_query_min[q] = min(per_query_min.get(q, float("inf")), r["cosine"])
    for (q, n), cos in single.items():
        if (q, n) in multi_cos:
            assert multi_cos[(q, n)] == cos
        else:
            assert per_query_min[q] >= cos


def test_prefix_sum_ordered_matches_global_window(spark):
    """The distributed prefix sum (range partition -> local window ->
    offset add) must equal the single-task global window exactly,
    including duplicate order values resolved by the tiebreaker."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from callio_etl_spark.llm_ops.sampling import prefix_sum_ordered

    rows = [(i, (i * 7) % 5, (i * 13) % 10 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, grp long, v long")
    order = [F.col("grp").desc(), F.col("id").asc()]
    got = {
        r["id"]: r["cum"]
        for r in prefix_sum_ordered(df, "v", order, "cum").collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_semantic_dedup_lowest_id_survives(spark):
    """Per cluster, the lowest vec_id is always kept (nothing precedes
    it), and every dropped vector has a kept-or-dropped LOWER id above
    the threshold — spot-verified by recomputing one dropped row's
    cosines locally."""
    from callio_etl_spark.llm_ops.similarity import semantic_dedup

    rows = semantic_dedup(spark, SF_DIR).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append((r["vec_id"], r["keep"]))
    assert by_label
    for label, vs in by_label.items():
        vs.sort()
        assert vs[0][1] == 1, f"label {label}: lowest id dropped"
    assert any(k == 0 for vs in by_label.values() for _, k in vs), (
        "threshold marks no duplicates at this sf — test is vacuous"
    )


def test_hard_negatives_exclude_own_label_and_rank_by_cosine(spark):
    """Every mined negative carries a label different from its query's, and
    per query the k rows are the GLOBAL top-k over foreign-label vectors
    (spot-checked against a local recompute for one query)."""
    import numpy as np

    from callio_etl_spark.llm_ops.similarity import TOP_K, ann_hard_negatives

    emb = {
        r["vec_id"]: (r["label"], np.array(r["embedding"], dtype=np.float64))
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }
    rows = ann_hard_negatives(spark, SF_DIR).collect()
    per_q = {}
    for r in rows:
        assert r["neg_label"] != emb[r["query_id"]][0]
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == TOP_K for v in per_q.values())
    # local recompute for query 0
    qlab, qv = emb[0]
    qv = qv / np.linalg.norm(qv)
    scored = sorted(
        (
            (-float(np.dot(qv, v / np.linalg.norm(v))), nid)
            for nid, (lab, v) in emb.items()
            if lab != qlab
        ),
    )[:TOP_K]
    want_ids = [nid for _, nid in scored]
    got = sorted(per_q[0], key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in got] == want_ids


def test_shard_manifest_balanced_and_complete(spark):
    """Shards partition the corpus exactly (doc counts and token totals sum
    to the corpus), are contiguous doc-id ranges, and every shard except
    possibly the last stays within one document of the token capacity."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.sampling import SHARD_TOKENS, TOKEN_RE, shard_manifest
    from callio_etl_spark.tables import load_table

    rows = sorted(
        shard_manifest(spark, SF_DIR).collect(), key=lambda r: r["shard"]
    )
    d = load_table(spark, SF_DIR, "documents")
    toks = F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)))
    total = d.select(
        F.count("*").alias("n"), F.sum(toks.cast("long")).alias("t")
    ).collect()[0]
    assert sum(r["n_docs"] for r in rows) == total["n"]
    assert sum(r["shard_tokens"] for r in rows) == total["t"]
    # contiguous, ordered, non-overlapping doc-id ranges
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] < b["first_doc"]
    # balance: every non-final shard is within ONE document of capacity in
    # both directions — it can overshoot by the boundary-crossing doc, and
    # undershoot by the previous shard's overshoot, never more
    max_tok = d.select(F.max(toks.cast("long"))).collect()[0][0]
    for r in rows[:-1]:
        assert r["shard_tokens"] + max_tok > SHARD_TOKENS, r
        assert r["shard_tokens"] < SHARD_TOKENS + max_tok, r
    for r in rows:
        assert r["n_docs"] >= 1


def test_semantic_dedup_arrow_matches_sequential(spark):
    """The GEMM fast path must produce flag-identical results to the
    oracle-checked sequential operator on the fixture embeddings (and
    actually drop something, so the equality isn't vacuous)."""
    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.similarity import (
        _emb,
        semantic_dedup,
        semantic_dedup_arrow,
    )

    want = {
        (r["vec_id"], r["label"]): r["keep"]
        for r in semantic_dedup(spark, SF_DIR).collect()
    }
    got = {
        (r["vec_id"], r["label"]): r["keep"]
        for r in semantic_dedup_arrow(_emb(spark, SF_DIR)).collect()
    }
    assert got == want
    assert 0 in set(want.values())


def test_cosine_raises_on_dimension_mismatch(spark):
    """A mismatched vector pair must raise at execution, never silently
    drop out of rankings via a NULL-poisoned dot product."""
    import pytest
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql.utils import AnalysisException

    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops.similarity import cosine

    ok = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0])], "u array<double>, w array<double>"
    )
    assert ok.select(cosine(F.col("u"), F.col("w")).alias("c")).collect()[0]["c"] == 0.0

    bad = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0, 0.0])], "u array<double>, w array<double>"
    )
    with pytest.raises(Exception) as ei:
        bad.select(cosine(F.col("u"), F.col("w"))).collect()
    assert "dimension mismatch" in str(ei.value)


# ------------------------------------------------------- span removal


def test_span_removal_cuts_copied_span_keeps_first(spark, tmp_path):
    """A verbatim K-token span copied from doc 0 into doc 1 must vanish
    from doc 1 (the later occurrence) and survive untouched in doc 0;
    an unrelated doc loses nothing."""
    from callio_etl_spark.llm_ops.dedup_ops import SUBSTR_K, dedup_span_removal

    span = " ".join(f"s{i}" for i in range(SUBSTR_K))
    rows = [
        (0, f"{span} alpha beta gamma delta", "en", "src0", 0),
        (1, f"prefix one two {span} suffix", "en", "src0", 0),
        (2, "totally unrelated words only here", "en", "src1", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in dedup_span_removal(spark, str(tmp_path)).collect()
    }
    assert out[0]["n_removed"] == 0 and span in out[0]["new_text"]
    assert span not in out[1]["new_text"]
    assert out[1]["n_removed"] == SUBSTR_K
    assert out[1]["new_text"] == "prefix one two suffix"
    assert out[2]["n_removed"] == 0


def test_span_removal_overlapping_windows_union(spark, tmp_path):
    """A copied passage LONGER than K produces K+ overlapping duplicated
    windows; their covered positions must union into one cut (the passage
    disappears once — tokens are not removed K times or double-counted)."""
    from callio_etl_spark.llm_ops.dedup_ops import SUBSTR_K, dedup_span_removal

    passage = " ".join(f"p{i}" for i in range(SUBSTR_K + 5))  # K+5 tokens
    rows = [
        (0, passage, "en", "src0", 0),
        (1, f"head {passage} tail", "en", "src0", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in dedup_span_removal(spark, str(tmp_path)).collect()
    }
    assert out[0]["n_removed"] == 0
    assert out[1]["n_removed"] == SUBSTR_K + 5
    assert out[1]["new_text"] == "head tail"


def test_span_removal_token_conservation(spark):
    """On the real corpus: token counts must reconcile — the rebuilt text
    has exactly n_tokens - n_removed tokens, and removal never exceeds
    the document."""
    from callio_etl_spark.llm_ops.dedup_ops import dedup_span_removal
    import pyspark.sql.functions as F

    out = dedup_span_removal(spark, SF_DIR)
    bad = out.where(
        (F.col("n_removed") < 0)
        | (F.col("n_removed") > F.col("n_tokens"))
        | (
            F.when(F.col("new_text") == "", 0).otherwise(
                F.size(F.split("new_text", " "))
            )
            != F.col("n_tokens") - F.col("n_removed")
        )
    ).count()
    assert bad == 0


# ------------------------------------------------------------ DSIR


def test_dsir_target_language_scores_higher(spark):
    """The importance weight must separate the target distribution from
    the rest: English documents (the target) average a strictly higher
    importance than non-English ones, and rank/selection are consistent."""
    from callio_etl_spark.llm_ops.sampling import dsir_importance, DSIR_KEEP
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "lang")
    out = dsir_importance(spark, SF_DIR).join(docs, "doc_id")
    stats = (
        out.groupBy(F.col("lang") == "en")
        .agg(F.avg("importance").alias("imp"))
        .collect()
    )
    by_target = {r[0]: r["imp"] for r in stats}
    assert by_target[True] > by_target[False]
    rows = out.select("imp_rank", "selected").collect()
    n = len(rows)
    assert sorted(r["imp_rank"] for r in rows) == list(range(1, n + 1))
    assert all(r["selected"] == (r["imp_rank"] <= DSIR_KEEP) for r in rows)


# ------------------------------------------------------------ PQ


def test_pq_codes_cover_every_subspace_in_range(spark):
    """Every vector gets exactly PQ_M codes, each in [0, PQ_K)."""
    from callio_etl_spark.llm_ops.similarity import PQ_K, PQ_M, pq_codes
    import pyspark.sql.functions as F

    codes = pq_codes(spark, SF_DIR)
    n_vec = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert codes.count() == n_vec * PQ_M
    assert codes.groupBy("vec_id").count().where(F.col("count") != PQ_M).count() == 0
    mm = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi"), F.countDistinct("m").alias("ms")
    ).collect()[0]
    assert mm["lo"] >= 0 and mm["hi"] < PQ_K and mm["ms"] == PQ_M


def test_pq_update_step_tightens_assignment(spark):
    """k-means monotonicity, spherical flavor: after the codebook update,
    the mean best-codeword cosine over all (vector, subspace) pairs must
    not decrease vs the seeded assignment — one numeric check that the
    update step actually trains."""
    from callio_etl_spark.llm_ops.similarity import (
        PQ_K,
        _emb,
        _pq_assign,
        _pq_codebook,
        _pq_sub,
        cosine,
    )
    import pyspark.sql.functions as F

    e = _emb(spark, SF_DIR)
    sub = _pq_sub(e)
    seeds = sub.where(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("cv")
    )
    cb = _pq_codebook(sub)

    def mean_best(cbdf):
        scored = sub.join(F.broadcast(cbdf), "m").select(
            "vec_id", "m", cosine(F.col("sv"), F.col("cv")).alias("c")
        )
        best = scored.groupBy("vec_id", "m").agg(F.max("c").alias("b"))
        return best.agg(F.avg("b")).collect()[0][0]

    # data-pinned: the unnormalized-mean update is not THEORETICALLY
    # guaranteed to raise mean best-cosine (spherical k-means would
    # normalize members first); on the fixed shipped fixtures it does,
    # and the fixtures are constant, so a flip means a code change.
    assert mean_best(cb) >= mean_best(seeds)


def test_pq_quantization_loss_bounded_on_shipped_data(spark):
    """Data-pinned: IVF-PQ recall trails exact same-bucket search by at
    most the quantization loss — aggregate hits_pq <= hits_exact_ivf on
    the shipped embeddings (they share the identical candidate set), and
    both are <= k per query."""
    from callio_etl_spark.llm_ops.similarity import ann_recall_pq
    import pyspark.sql.functions as F

    r = ann_recall_pq(spark, "/root/testdata/sf0.01")
    agg = r.agg(
        F.sum("hits_pq").alias("pq"),
        F.sum("hits_exact_ivf").alias("ex"),
        F.max("hits_pq").alias("mx"),
        F.max("k").alias("k"),
    ).collect()[0]
    assert agg["pq"] <= agg["ex"]
    assert agg["mx"] <= agg["k"]


def test_pq_rerank_recall_at_least_raw_pq(spark):
    """The exact re-rank can only help: for every query, the re-ranked
    top-k's brute-force hit count must be >= the raw ADC top-k's (both
    draw from the same candidate pool; rerank orders a superset shortlist
    by TRUE cosine)."""
    from callio_etl_spark.llm_ops.similarity import (
        ann_topk_brute,
        ann_topk_ivfpq,
        ann_topk_pq_rerank,
    )
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.01"
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_topk_brute(spark, sf).collect()
    }
    raw = {}
    for r in ann_topk_ivfpq(spark, sf).collect():
        raw[r["query_id"]] = raw.get(r["query_id"], 0) + (
            (r["query_id"], r["neighbor_id"]) in brute
        )
    rr = {}
    for r in ann_topk_pq_rerank(spark, sf).collect():
        rr[r["query_id"]] = rr.get(r["query_id"], 0) + (
            (r["query_id"], r["neighbor_id"]) in brute
        )
    assert set(raw) == set(rr)
    assert all(rr[q] >= raw[q] for q in raw)


def test_bpe_pair_counts_match_manual_recount(spark, duck):
    """Cross-check the top pair against a direct Python recount over the
    corpus word frequencies."""
    from collections import Counter
    from callio_etl_spark.llm_ops.text_analysis import bpe_pair_counts

    top = bpe_pair_counts(spark, SF_DIR).orderBy("merge_rank").first()
    words = Counter()
    for (txt,) in duck.execute("SELECT text FROM documents").fetchall():
        for w in txt.split(" "):
            if w:
                words[w] += 1
    pairs = Counter()
    for w, f in words.items():
        for i in range(len(w) - 1):
            pairs[(w[i], w[i + 1])] += f
    best_count = max(pairs.values())
    winners = sorted(k for k, v in pairs.items() if v == best_count)
    assert top["pair_count"] == best_count
    # the reported winner must be the deterministic tie-break choice
    assert (top["left_sym"], top["right_sym"]) == winners[0]


def test_pmi_pairs_are_normalized_and_supported(spark):
    """Pair normalization (w1 <= w2), the support floor, and rank
    contiguity must hold on the shipped corpus."""
    from callio_etl_spark.llm_ops.text_analysis import (
        PMI_MIN_CO,
        PMI_TOP,
        pmi_cooccurrence,
    )

    rows = pmi_cooccurrence(spark, SF_DIR).collect()
    assert 0 < len(rows) <= PMI_TOP
    assert all(r["w1"] <= r["w2"] for r in rows)
    assert all(r["co"] >= PMI_MIN_CO for r in rows)
    assert sorted(r["assoc_rank"] for r in rows) == list(range(1, len(rows) + 1))


def test_incremental_pairs_equal_delta_slice_of_full_pairs(spark):
    """Exactness of the incremental contract: the delta-vs-index pairs
    must be PRECISELY the subset of the full self-join's pairs that touch
    a delta doc — nothing missed (no index-index pair sneaks in, no
    delta pair dropped). At this corpus size the planner picks the same
    (2, 4) geometry minhash_lsh_pairs bands with, so the full self-join
    is the exact reference."""
    from callio_etl_spark.llm_ops.dedup_ops import (
        DELTA_MOD,
        minhash_incremental_planned,
        minhash_lsh_pairs,
        plan_band_geometry_for_size,
    )

    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert plan_band_geometry_for_size(n) == (2, 4)
    full = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    expected = {
        (a, b) for a, b in full if a % DELTA_MOD == 0 or b % DELTA_MOD == 0
    }
    inc = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_incremental_planned(spark, SF_DIR).collect()
    }
    assert inc == expected and len(inc) > 0


def test_size_driven_geometry_policy():
    """The size-driven planner's steps: integer thresholds, shortest key
    within the occupancy budget, key growth across the held-run decades
    (sf0.1's 5k docs -> (2,4); synthetic sf1's 50k -> (4,2)), longest-key
    fallback past every threshold. Must agree with the closed-form
    planner at the reference collision rate."""
    from callio_etl_spark.llm_ops.dedup_ops import (
        P_REF,
        plan_band_geometry,
        plan_band_geometry_for_size,
        planned_geometry_thresholds,
    )

    steps = planned_geometry_thresholds()
    assert [(r, b) for r, b, _ in steps] == [(1, 8), (2, 4), (4, 2), (8, 1)]
    assert steps[0][2] == 101 and steps[1][2] == 10001
    for n in (1, 50, 500, 5000, 50_000, 10**9, 10**18):
        assert plan_band_geometry_for_size(n) == plan_band_geometry(n, P_REF)
    assert plan_band_geometry_for_size(500) == (2, 4)
    assert plan_band_geometry_for_size(5000) == (2, 4)
    assert plan_band_geometry_for_size(50_000) == (4, 2)
    assert plan_band_geometry_for_size(10**18) == (8, 1)


def test_embedding_covariance_matches_numpy(spark):
    """The decimal-quantized covariance must track numpy's float64
    covariance to quantization precision, diagonal entries (variances)
    must be non-negative, and the output is exactly the upper triangle."""
    import numpy as np
    from callio_etl_spark.llm_ops.similarity import COV_DIMS, embedding_covariance

    rows = embedding_covariance(spark, SF_DIR).collect()
    assert len(rows) == COV_DIMS * (COV_DIMS + 1) // 2
    assert all(r["i"] <= r["j"] for r in rows)
    assert all(r["cov"] >= 0 for r in rows if r["i"] == r["j"])
    X = np.array(
        [
            r["embedding"][:COV_DIMS]
            for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    C = np.cov(X, rowvar=False, bias=True)  # population covariance, as the op
    for r in rows:
        assert abs(r["cov"] - C[r["i"] - 1, r["j"] - 1]) < 1e-8


def test_standardized_dims_are_zero_mean_unit_var(spark):
    """Each standardized dimension must come out ~N(0,1): mean ~0 and
    population std ~1 (up to the 1e-10 moment quantization)."""
    import pyspark.sql.functions as F
    from callio_etl_spark.llm_ops.similarity import embedding_standardize

    z = embedding_standardize(spark, SF_DIR)
    stats = (
        z.groupBy("dim")
        .agg(F.avg("z").alias("m"), (F.avg(F.col("z") * F.col("z"))).alias("m2"))
        .collect()
    )
    assert all(abs(r["m"]) < 1e-6 for r in stats)
    assert all(abs(r["m2"] - 1.0) < 1e-6 for r in stats)


def test_pmi_survives_single_token_docs(spark, tmp_path):
    """Regression: a one-token document used to crash the pair builder
    (F.sequence(1, 0) yields DESCENDING [1, 0] -> element_at(t, 0)
    raises); the guard must skip such docs exactly like the oracle's
    empty range(1, 1) does."""
    from callio_etl_spark.llm_ops.text_analysis import pmi_cooccurrence

    rows = [(0, "solo", "en", "src0", 4), (1, "", "en", "src0", 0)] + [
        (i, "alpha beta alpha beta alpha beta alpha beta", "en", "src0", 0)
        for i in range(2, 8)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = pmi_cooccurrence(spark, str(tmp_path)).collect()
    assert len(out) > 0  # the repeated bigram clears the support floor


def test_bm25_matches_python_reference(spark, duck):
    """BM25 scores cross-checked against a direct Python Okapi
    implementation (same linear idf, same constants) — ranks and scores
    must agree to the quantization precision."""
    from callio_etl_spark.llm_ops.text_analysis import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        bm25_topk,
    )

    got = {r["doc_id"]: r["bm25"] for r in bm25_topk(spark, SF_DIR).collect()}
    docs = {
        i: txt.split(" ")
        for i, txt in duck.execute("SELECT doc_id, text FROM documents").fetchall()
    }
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    df = {q: sum(1 for t in docs.values() if q in t) for q in BM25_QUERY}
    import math

    def score(toks):
        s = 0.0
        for q in BM25_QUERY:
            tf = toks.count(q)
            if tf:
                idf = (n + 1) / (df[q] + 1)
                s += math.floor(
                    idf * tf * (BM25_K1 + 1)
                    / (tf + BM25_K1 * (1 - BM25_B + BM25_B * len(toks) / avgdl))
                    * 1e10
                ) / 1e10
        return s
    ref = sorted(((score(t), -i) for i, t in docs.items()), reverse=True)
    top = {-i for s, i in ref[: len(got)]}
    assert set(got) == top
    for i in got:
        assert abs(got[i] - score(docs[i])) < 1e-9


def test_rerank_recall_never_below_pq(spark):
    """On the shipped data the reranked recall must be >= raw-PQ recall
    for every query (the shortlist is a superset of the ADC top-k)."""
    from callio_etl_spark.llm_ops.similarity import ann_recall_pq_rerank

    rows = ann_recall_pq_rerank(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 10
    assert all(r["hits_rerank"] >= r["hits_pq"] for r in rows)


def test_rrf_fusion_covers_both_systems(spark):
    """The fused list must contain every lexical doc and every dense doc;
    docs present in both rankings must outscore a same-rank doc present
    in only one."""
    from callio_etl_spark.llm_ops.text_analysis import RRF_K, hybrid_rrf_fusion

    rows = hybrid_rrf_fusion(spark, "/root/testdata/sf0.01").collect()
    assert all(
        r["lex_rank"] is not None or r["dense_rank"] is not None for r in rows
    )
    for r in rows:
        expect = (1.0 / (RRF_K + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
            1.0 / (RRF_K + r["dense_rank"]) if r["dense_rank"] else 0.0
        )
        assert abs(r["rrf"] - expect) < 1e-15


def test_pca_projection_tracks_numpy_power_iteration(spark):
    """The in-plan power iteration must agree with numpy running the
    identical recursion (same start vector, same iteration count) to
    quantization precision — and the projection variance along the found
    axis must dominate the variance along the start axis (the iteration
    moved TOWARD the principal direction)."""
    import numpy as np
    from callio_etl_spark.llm_ops.similarity import (
        COV_DIMS,
        PCA_ITERS,
        embedding_pca_project,
    )

    X = np.array(
        [
            r["embedding"][:COV_DIMS]
            for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    C = np.cov(X, rowvar=False, bias=True)
    v = np.zeros(COV_DIMS)
    v[0] = 1.0
    for _ in range(PCA_ITERS):
        m = C @ v
        v = m / np.sqrt((m * m).sum())
    got = {
        r["vec_id"]: r["pc1"] for r in embedding_pca_project(spark, SF_DIR).collect()
    }
    ids = sorted(got)
    ref = {i: float(X[i] @ v) for i in ids}
    assert all(abs(got[i] - ref[i]) < 1e-6 for i in ids)
    var_axis = np.var([got[i] for i in ids])
    var_e1 = np.var(X[:, 0])
    assert var_axis > var_e1


def test_ivf_training_converges(spark):
    """Across the measured rounds: the mean best-centroid cosine must not
    decrease (k-means improvement, spherical flavor — data-pinned like
    the PQ update test) and reassignment churn must not grow."""
    from callio_etl_spark.llm_ops.similarity import ivf_train_rounds

    rows = sorted(
        ivf_train_rounds(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["round"],
    )
    assert len(rows) == 2
    assert rows[1]["mean_best_cos"] >= rows[0]["mean_best_cos"]
    assert rows[1]["n_reassigned"] <= rows[0]["n_reassigned"]
    assert rows[0]["n_reassigned"] > 0  # round 1 actually moves vectors


def test_curriculum_bins_approx_agrees_with_exact(spark):
    """The sketch-edge binning (one pass, no sort) must agree with the
    exact distributed NTILE on >=99% of documents, produce the same bin
    id range, and assign every document exactly once. Disagreement is
    confined to documents whose length sits ON a sketch-vs-exact edge
    discrepancy, so near-total agreement at accuracy=10k is the designed
    behavior, not luck."""
    from callio_etl_spark.llm_ops.sampling import (
        N_CURRICULUM_BINS,
        curriculum_bins,
        curriculum_bins_approx,
    )

    exact = {
        r["doc_id"]: r["bin"] for r in curriculum_bins(spark, SF_DIR).collect()
    }
    approx = {
        r["doc_id"]: r["bin"]
        for r in curriculum_bins_approx(spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    assert min(approx.values()) >= 1
    assert max(approx.values()) <= N_CURRICULUM_BINS
    agree = sum(1 for k in exact if exact[k] == approx[k])
    assert agree / len(exact) >= 0.99


def test_ntile_ordered_matches_window_ntile(spark):
    """ntile_ordered (prefix-sum rank + closed-form tile) is bit-identical
    to Spark's own ntile() window across tile counts that exercise the
    uneven-remainder arithmetic, including k > n."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from callio_etl_spark.llm_ops.sampling import ntile_ordered

    df = spark.range(0, 103).select(
        F.col("id"), (F.col("id") * 37 % 91).alias("v")
    )
    for k in (1, 2, 7, 10, 103, 200):
        order = [F.col("v").asc(), F.col("id").asc()]
        got = {
            (r["id"], r["t"])
            for r in ntile_ordered(df, order, k, "t").collect()
        }
        w = Window.orderBy(*order)
        want = {
            (r["id"], r["t"])
            for r in df.withColumn(
                "t", F.ntile(k).over(w).cast("long")
            ).collect()
        }
        assert got == want


# --- exact-collapse equivalence (late r6): the collapsed plans must agree
# --- with the uncollapsed definitions on a corpus with HEAVY verbatim
# --- duplication (the shipped sf fixtures have almost none, so the oracle
# --- alone barely exercises the collapse paths)


def _dup_documents(spark, tmp_path, n_base=120):
    """Write a documents table where most docs have 1-3 verbatim copies,
    re-sourced so copies also span sources (syndication)."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") < n_base
    )
    parts = [base]
    for r in (1, 2, 3):
        parts.append(
            base.where(F.col("doc_id") % (r + 1) == 0)
            .withColumn("doc_id", F.col("doc_id") + 10_000 * r)
            .withColumn("source", F.concat(F.lit(f"mirror{r}-"), F.col("source")))
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_pipeline_clusters_collapse_invariant(spark, tmp_path):
    """dedup_pipeline's exact-collapse prefix is a pure plan change: the
    (doc_id, cluster_id) table must equal the uncollapsed pre-collapse
    definition (band pairs over ALL docs -> Jaccard verify -> CC)."""
    from callio_etl_spark.llm_ops.dedup_ops import (
        JACCARD_THRESHOLD,
        PIPE_N_BANDS,
        PIPE_ROWS_PER_BAND,
        _band_pairs,
        _band_table,
        _words,
        connected_components_star,
        dedup_pipeline,
    )

    sf = _dup_documents(spark, tmp_path)
    d = spark.read.parquet(f"{sf}/documents.parquet")
    words = d.select("doc_id", _words(F.col("text")).alias("ws")).localCheckpoint()
    cand = _band_pairs(
        _band_table(d, rows_per_band=PIPE_ROWS_PER_BAND, n_bands=PIPE_N_BANDS)
    )
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
    nodes = words.select(F.col("doc_id").alias("node"))
    want = {
        (r["node"], r["comp"])
        for r in connected_components_star(nodes, edges).collect()
    }
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup_pipeline(spark, sf).select("doc_id", "cluster_id").collect()
    }
    assert got == want
    # duplication is actually heavy: well under one cluster per doc
    n_docs = d.count()
    n_clusters = len({c for _, c in got})
    assert n_clusters < n_docs * 0.7


def test_cross_source_counts_match_raw_pair_definition(spark, tmp_path):
    """cross_source_neardup's group-factorized counts must equal the raw
    pair-join definition (band pairs over ALL docs -> source lookup ->
    count per unordered source pair) on a syndication-heavy corpus."""
    from callio_etl_spark.llm_ops.curation import cross_source_neardup
    from callio_etl_spark.llm_ops.dedup_ops import _band_pairs, _band_table

    sf = _dup_documents(spark, tmp_path)
    d = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = _band_pairs(_band_table(d))
    src = d.select("doc_id", "source")
    raw = (
        pairs.join(src.select(F.col("doc_id").alias("doc_a"),
                              F.col("source").alias("src_a")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"),
                         F.col("source").alias("src_b")), "doc_b")
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy(F.least("src_a", "src_b").alias("source_a"),
                 F.greatest("src_a", "src_b").alias("source_b"))
        .agg(F.count("*").alias("n_pairs"), F.min("doc_a").alias("example_doc"))
    )
    want = {tuple(r) for r in raw.collect()}
    got = {tuple(r) for r in cross_source_neardup(spark, sf).collect()}
    assert got == want
    assert any(sa.startswith("mirror") or sb.startswith("mirror")
               for sa, sb, _, _ in got)


def test_embedding_decontaminate_collapse_invariant(spark, tmp_path):
    """Content-dedup before scoring must not change any (train_id,
    n_eval_hits, max_cosine, first_eval_id) row vs the raw definition,
    even when train AND eval vectors carry verbatim copies."""
    from callio_etl_spark.llm_ops.curation import (
        EVAL_MOD,
        EVAL_REM,
        embedding_decontaminate,
    )
    from callio_etl_spark.llm_ops.similarity import SEM_TAU, cosine

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 150
    )
    parts = [base]
    for r in (1, 2):  # +1000 shifts vec_id % 29, so copies cross the split
        parts.append(
            base.where(F.col("vec_id") % (r + 1) == 0)
            .withColumn("vec_id", F.col("vec_id") + 1_000 * r)
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    sf = str(tmp_path)

    e = df.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    is_eval = F.col("vec_id") % EVAL_MOD == EVAL_REM
    ev = e.where(is_eval).select(
        F.col("vec_id").alias("eval_id"), F.col("label").alias("el"),
        F.col("v").alias("ev"),
    )
    cos = cosine(F.col("v"), F.col("ev"))
    raw = (
        e.where(~is_eval)
        .join(F.broadcast(ev), F.col("label") == F.col("el"))
        .where(cos > SEM_TAU)
        .groupBy(F.col("vec_id").alias("train_id"))
        .agg(F.count("*").alias("n_eval_hits"),
             F.max(cos).alias("max_cosine"),
             F.min("eval_id").alias("first_eval_id"))
    )
    want = {(r["train_id"], r["n_eval_hits"], round(r["max_cosine"], 9),
             r["first_eval_id"]) for r in raw.collect()}
    got = {(r["train_id"], r["n_eval_hits"], round(r["max_cosine"], 9),
            r["first_eval_id"])
           for r in embedding_decontaminate(spark, sf).collect()}
    assert got == want
    assert want, "fixture must actually produce contamination hits"


def test_semantic_dedup_collapse_invariant(spark, tmp_path):
    """The content-group collapse in semantic_dedup must reproduce the raw
    row-level rule (dup iff ANY lower-id same-label vector exceeds tau) on
    a corpus where vectors carry verbatim copies on both sides of every
    group boundary."""
    from callio_etl_spark.llm_ops.similarity import SEM_TAU, cosine, semantic_dedup

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 150
    )
    parts = [base]
    for r in (1, 2):
        parts.append(
            base.where(F.col("vec_id") % (r + 1) == 0)
            .withColumn("vec_id", F.col("vec_id") + 1_000 * r)
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    e = df.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    prior = e.select(
        F.col("vec_id").alias("pid"), F.col("label").alias("plabel"),
        F.col("v").alias("pv"),
    )
    dup_ids = (
        e.join(
            prior,
            (F.col("plabel") == F.col("label"))
            & (F.col("pid") < F.col("vec_id"))
            & (cosine(F.col("pv"), F.col("v")) > SEM_TAU),
        )
        .select("vec_id").distinct().withColumn("__dup", F.lit(1))
    )
    raw = e.select("vec_id", "label").join(dup_ids, "vec_id", "left").select(
        "vec_id", "label",
        F.when(F.col("__dup").isNull(), 1).otherwise(0).cast("long").alias("keep"),
    )
    want = {tuple(r) for r in raw.collect()}
    got = {tuple(r) for r in semantic_dedup(spark, str(tmp_path)).collect()}
    assert got == want
    # the copies actually force drops: strictly fewer keeps than rows
    keeps = sum(k for _, _, k in got)
    assert keeps < len(got)


def test_grouped_pairs_expand_to_row_grain_pairs(spark, tmp_path):
    """minhash_lsh_pairs_grouped carries the EXACT row-grain pair
    multiset: expanding each group pair over its members must reproduce
    minhash_lsh_pairs verbatim (and hence sum(n_pairs) == its count) on a
    corpus where most documents have 1-3 verbatim copies."""
    from callio_etl_spark.llm_ops.dedup_ops import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_grouped,
    )

    sf = _dup_documents(spark, tmp_path)
    row_pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(spark, sf).collect()
    }
    grouped = minhash_lsh_pairs_grouped(spark, sf).collect()
    assert sum(r["n_pairs"] for r in grouped) == len(row_pairs)

    # expand each group pair over its members and compare the full pair set
    d = spark.read.parquet(f"{sf}/documents.parquet")
    keyed = d.select("doc_id", F.md5("text").alias("tkey"))
    groups = keyed.groupBy("tkey").agg(
        F.min("doc_id").alias("rep"), F.collect_list("doc_id").alias("members")
    )
    members = {r["rep"]: sorted(r["members"]) for r in groups.collect()}
    expanded = set()
    for r in grouped:
        if r["rep_a"] == r["rep_b"]:
            ms = members[r["rep_a"]]
            expanded |= {
                (a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]
            }
        else:
            expanded |= {
                (min(a, b), max(a, b))
                for a in members[r["rep_a"]]
                for b in members[r["rep_b"]]
            }
    assert expanded == row_pairs
    # duplication actually collapses work: fewer reps than docs
    assert len(members) < d.count() * 0.7


def test_capped_pairs_drop_only_oversized_buckets(spark, tmp_path):
    """minhash_lsh_pairs_capped is minhash_lsh_pairs_grouped minus exactly
    the pairs whose EVERY shared band bucket exceeds BUCKET_CAP: capped is
    a subset with identical multiplicities, within-group (verbatim) pairs
    are never dropped, and a boilerplate family larger than the cap
    contributes no cross pairs at all."""
    from callio_etl_spark.llm_ops.dedup_ops import (
        BUCKET_CAP,
        minhash_lsh_pairs_capped,
        minhash_lsh_pairs_grouped,
    )

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") < 100
    )
    # a template family twice the cap: shared 30-word boilerplate + one
    # unique token each, so texts are distinct but band keys shared
    tmpl = " ".join(f"capword{i}" for i in range(30))
    fam = spark.range(2 * BUCKET_CAP).select(
        (F.col("id") + 50_000).alias("doc_id"),
        F.concat(F.lit(tmpl + " uniq"), F.col("id")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("boiler").alias("source"),
        F.lit(200).alias("n_chars"),
    )
    base.unionByName(fam).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    sf = str(tmp_path)
    grouped = {
        (r["rep_a"], r["rep_b"]): r["n_pairs"]
        for r in minhash_lsh_pairs_grouped(spark, sf).collect()
    }
    capped = {
        (r["rep_a"], r["rep_b"]): r["n_pairs"]
        for r in minhash_lsh_pairs_capped(spark, sf).collect()
    }
    assert set(capped) <= set(grouped)
    for k, n in capped.items():
        assert grouped[k] == n
    # the template family's cross pairs were dropped...
    fam_cross = [
        k for k in grouped if k[0] >= 50_000 and k[1] >= 50_000 and k[0] != k[1]
    ]
    assert fam_cross, "fixture must band the template family together"
    assert not any(
        k[0] >= 50_000 and k[1] >= 50_000 and k[0] != k[1] for k in capped
    )
    # ...but pairs among the small stock buckets survive
    assert any(k[0] < 50_000 for k in capped) or not any(
        k[0] < 50_000 for k in grouped
    )


def test_maintain_band_index_tracks_live_corpus(spark, tmp_path):
    """Rolling band-index maintenance (CDC + snapshot store + LSH): over
    a seeded random sequence of document commits (inserts, text edits,
    deletions — including emptying whole id-buckets), the maintained
    index must equal band_projection of the LIVE corpus after every
    tick, and each tick must touch only the changed docs' buckets."""
    import random

    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.llm_ops.dedup_ops import (
        INDEX_BUCKETS,
        band_projection,
        maintain_band_index,
    )

    rng = random.Random(77)
    docs_p = str(tmp_path / "docs")
    idx_p = str(tmp_path / "idx")

    corpus = {
        i: (i, f"alpha beta w{i % 9} gamma doc{i}", str(i % 4))
        for i in range(40)
    }

    def docs_df():
        return spark.createDataFrame(
            sorted(corpus.values()), "doc_id long, text string, p string"
        )

    def commit_part(p):
        rows = [r for r in corpus.values() if r[2] == p]
        if rows:
            snap.snapshot_partition_overwrite(
                spark,
                spark.createDataFrame(rows, "doc_id long, text string, p string"),
                docs_p, "p", keep_snapshots=30,
            )
        else:
            snap.snapshot_delete_partitions(spark, docs_p, [p], keep_snapshots=30)

    def expected_index():
        if not corpus:
            return set()
        return {
            (r["doc_id"], r["band"], r["band_key"])
            for r in band_projection(docs_df().select("doc_id", "text")).collect()
        }

    def live_index():
        import os

        if not os.path.isdir(os.path.join(idx_p, "__snap__")):
            return set()
        got = snap.snapshot_read(spark, idx_p)
        return {
            (r["doc_id"], r["band"], r["band_key"])
            for r in got.select("doc_id", "band", "band_key").collect()
        }

    snap.snapshot_partition_overwrite(
        spark, docs_df(), docs_p, "p", keep_snapshots=30
    )
    assert maintain_band_index(spark, docs_p, idx_p) is not None
    assert live_index() == expected_index()
    assert maintain_band_index(spark, docs_p, idx_p) is None  # current

    for step in range(5):
        p = rng.choice(["0", "1", "2", "3"])
        for k in [k for k, r in corpus.items() if r[2] == p]:
            roll = rng.random()
            if roll < 0.25:
                del corpus[k]
            elif roll < 0.55:
                corpus[k] = (k, f"edited v{step} text{k} delta", p)
        if rng.random() < 0.6:
            nk = max(corpus, default=0) + 1 + rng.randint(0, 3)
            corpus[nk] = (nk, f"fresh doc {nk} epsilon", p)
        commit_part(p)
        maintain_band_index(spark, docs_p, idx_p)
        assert live_index() == expected_index(), f"divergence at step {step}"

    # adversarial: delete EVERY doc of one id-bucket so its index leaf
    # must be retired by the metadata delete, not carried stale
    victims = [k for k in corpus if k % INDEX_BUCKETS == 1]
    if victims:
        parts = {corpus[k][2] for k in victims}
        for k in victims:
            del corpus[k]
        for p in sorted(parts):
            commit_part(p)
        maintain_band_index(spark, docs_p, idx_p)
        assert live_index() == expected_index()
        assert all(
            r[0] % INDEX_BUCKETS != 1 for r in live_index()
        )


def test_maintain_vector_index_tracks_live_vectors(spark, tmp_path):
    """Rolling IVF postings maintenance: across a seeded random sequence
    of vector commits (inserts, embedding edits that MOVE vectors across
    cells, deletions), the postings table must equal
    assign_to_cells(live vectors) and the forward map must agree with
    the postings, after every tick — with postings partitioned by cell
    so a probe prunes off the manifest."""
    import random

    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.llm_ops.similarity import (
        assign_to_cells,
        maintain_vector_index,
    )

    rng = random.Random(55)
    vp = str(tmp_path / "vecs")
    ip = str(tmp_path / "idx")
    fp = str(tmp_path / "fwd")

    # a fixed 3-cell quantizer on axis-ish directions
    cells = spark.createDataFrame(
        [(0, [1.0, 0.1, 0.0]), (1, [0.0, 1.0, 0.1]), (2, [0.1, 0.0, 1.0])],
        "label int, cv array<double>",
    )

    def vec_for(k, axis):
        base = [0.05, 0.05, 0.05]
        base[axis % 3] = 1.0 + (k % 5) * 0.01
        return [float(x) for x in base]

    vectors = {
        i: (i, vec_for(i, i), str(i % 3)) for i in range(30)
    }

    def vdf():
        return spark.createDataFrame(
            [(k, v, p) for k, v, p in sorted(vectors.values())],
            "vec_id long, embedding array<float>, p string",
        )

    def commit_part(p):
        rows = [r for r in vectors.values() if r[2] == p]
        if rows:
            snap.snapshot_partition_overwrite(
                spark,
                spark.createDataFrame(
                    rows, "vec_id long, embedding array<float>, p string"
                ),
                vp, "p", keep_snapshots=30,
            )
        else:
            snap.snapshot_delete_partitions(spark, vp, [p], keep_snapshots=30)

    def expected():
        if not vectors:
            return set()
        prepped = vdf().select(
            "vec_id",
            F.lit(-1).cast("int").alias("label"),
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        return {
            (r["vec_id"], r["assigned_cell"])
            for r in assign_to_cells(prepped, cells).collect()
        }

    def live():
        import os

        if not os.path.isdir(os.path.join(ip, "__snap__")):
            return set(), set()
        idx = {
            (r["vec_id"], r["assigned_cell"])
            for r in snap.snapshot_read(spark, ip).collect()
        }
        fwd = {
            (r["vec_id"], r["assigned_cell"])
            for r in snap.snapshot_read(spark, fp)
            .select("vec_id", "assigned_cell")
            .collect()
        }
        return idx, fwd

    def tick():
        return maintain_vector_index(spark, vp, ip, fp, cells)

    snap.snapshot_partition_overwrite(spark, vdf(), vp, "p", keep_snapshots=30)
    assert tick() is not None
    idx, fwd = live()
    assert idx == expected() and fwd == idx
    assert tick() is None  # current

    for step in range(4):
        p = rng.choice(["0", "1", "2"])
        for k in [k for k, r in vectors.items() if r[2] == p]:
            roll = rng.random()
            if roll < 0.2:
                del vectors[k]
            elif roll < 0.55:
                # rotate to another axis: the vector MOVES cells
                vectors[k] = (k, vec_for(k, k + step + 1), p)
        if rng.random() < 0.7:
            nk = max(vectors, default=0) + 1 + rng.randint(0, 2)
            vectors[nk] = (nk, vec_for(nk, nk), p)
        commit_part(p)
        tick()
        idx, fwd = live()
        assert idx == expected(), f"postings diverged at step {step}"
        assert fwd == idx, f"forward map diverged at step {step}"
        # the postings really are cell-partitioned (manifest pruning)
        m = snap.snapshot_manifest(spark, ip)
        assert all(l.startswith("assigned_cell=") for l in m["partitions"])


def test_maintain_vector_index_refuses_quantizer_drift(spark, tmp_path):
    """The IVF index pins its quantizer fingerprint as a table property
    at first build; a later tick handed a DIFFERENT quantizer must
    refuse (postings under two quantizers would silently mix cells),
    while the same quantizer keeps ticking."""
    import pytest

    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.llm_ops.similarity import maintain_vector_index

    vp = str(tmp_path / "vecs")
    ip, fp = str(tmp_path / "idx"), str(tmp_path / "fwd")
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)], str(i % 2)) for i in range(12)],
        "vec_id long, embedding array<double>, p string",
    )
    cells = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "label int, cv array<double>",
    )
    snap.snapshot_partition_overwrite(spark, vecs, vp, "p", keep_snapshots=5)
    assert maintain_vector_index(spark, vp, ip, fp, cells) is not None
    assert "ivf.quantizer_md5" in snap.snapshot_properties(spark, ip)

    # same quantizer: a new commit ticks fine
    snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame(
            [(100, [0.5, 0.5, 0.0], "0")],
            "vec_id long, embedding array<double>, p string",
        ),
        vp, "p", keep_snapshots=5,
    )
    assert maintain_vector_index(spark, vp, ip, fp, cells) is not None

    # drifted quantizer: refused before any write
    drifted = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0])],
        "label int, cv array<double>",
    )
    snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame(
            [(101, [0.1, 0.9, 0.0], "1")],
            "vec_id long, embedding array<double>, p string",
        ),
        vp, "p", keep_snapshots=5,
    )
    with pytest.raises(ValueError, match="quantizer drift"):
        maintain_vector_index(spark, vp, ip, fp, drifted)


def test_rebuild_band_index_rekeys_and_resumes(spark, tmp_path):
    """The full band-index lifecycle: build PLANNED at a small corpus
    (short keys), grow the corpus past an occupancy threshold, REBUILD —
    the geometry re-plans, the properties re-pin, the index equals
    band_projection at the NEW geometry, the index records the
    rebuild's docs version (an immediate tick is a no-op) — and later ticks
    maintain at the new geometry."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.llm_ops.dedup_ops import (
        band_projection,
        maintain_band_index,
        plan_band_geometry_for_size,
        rebuild_band_index,
    )

    docs_p, idx_p = str(tmp_path / "docs"), str(tmp_path / "idx")
    occ = 1.05  # thresholds: r=1 up to 6 docs, r=2 up to 501

    def docs_df(n):
        return spark.createDataFrame(
            [(i, f"w{i} alpha beta gamma t{i % 7}", str(i % 2)) for i in range(n)],
            "doc_id long, text string, p string",
        )

    snap.snapshot_partition_overwrite(
        spark, docs_df(5), docs_p, "p", keep_snapshots=10
    )
    # build at the small-corpus geometry: plan manually, pin via args
    r0, b0 = plan_band_geometry_for_size(5, target_occupancy=occ)
    assert (r0, b0) == (1, 8)
    assert maintain_band_index(
        spark, docs_p, idx_p, rows_per_band=r0, n_bands=b0
    ) is not None

    # grow the corpus past the r=1 threshold and rebuild
    snap.snapshot_partition_overwrite(
        spark, docs_df(40), docs_p, "p", keep_snapshots=10
    )
    r1, b1 = rebuild_band_index(
        spark, docs_p, idx_p, target_occupancy=occ
    )
    assert (r1, b1) == (2, 4)
    props = snap.snapshot_properties(spark, idx_p)
    assert (int(props["band.rows_per_band"]), int(props["band.n_bands"])) == (2, 4)
    # the rebuild superseded the pending feed: an immediate tick no-ops
    assert maintain_band_index(spark, docs_p, idx_p) is None

    def expect(n):
        return {
            (r["doc_id"], r["band"], r["band_key"])
            for r in band_projection(
                docs_df(n).select("doc_id", "text"), r1, b1
            ).collect()
        }

    def got():
        return {
            (r["doc_id"], r["band"], r["band_key"])
            for r in snap.snapshot_read(spark, idx_p)
            .select("doc_id", "band", "band_key")
            .collect()
        }

    assert got() == expect(40)
    # later ticks maintain at the PINNED new geometry (args ignored)
    snap.snapshot_partition_overwrite(
        spark, docs_df(44), docs_p, "p", keep_snapshots=10
    )
    assert maintain_band_index(
        spark, docs_p, idx_p, rows_per_band=8, n_bands=1
    ) is not None
    assert got() == expect(44)


def test_rebuild_vector_index_reindexes_after_quantizer_refresh(spark, tmp_path):
    """The quantizer-refresh lifecycle: build against cells A, REBUILD
    against refreshed cells B — postings equal assign_to_cells(live, B),
    emptied cell partitions are retired, the fingerprint re-pins (ticks
    with B proceed, ticks with A now refuse), and the index records the
    rebuild's version."""
    import pytest

    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.llm_ops.similarity import (
        assign_to_cells,
        maintain_vector_index,
        rebuild_vector_index,
    )

    vp = str(tmp_path / "vecs")
    ip, fwd = str(tmp_path / "idx"), str(tmp_path / "fwd")
    vecs = spark.createDataFrame(
        [(i, [1.0 if i % 2 else 0.0, 0.0 if i % 2 else 1.0, 0.1], str(i % 2))
         for i in range(10)],
        "vec_id long, embedding array<double>, p string",
    )
    cells_a = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "label int, cv array<double>",
    )
    # cells B: cell 2 moves far away so it EMPTIES (retire path)
    cells_b = spark.createDataFrame(
        [(0, [1.0, 0.1, 0.0]), (1, [0.1, 1.0, 0.0]), (2, [-1.0, -1.0, -1.0])],
        "label int, cv array<double>",
    )
    snap.snapshot_partition_overwrite(spark, vecs, vp, "p", keep_snapshots=10)
    assert maintain_vector_index(spark, vp, ip, fwd, cells_a) is not None

    fp_b = rebuild_vector_index(spark, vp, ip, fwd, cells_b)
    assert snap.snapshot_properties(spark, ip)["ivf.quantizer_md5"] == fp_b
    assert maintain_vector_index(spark, vp, ip, fwd, cells_b) is None

    def live_vecs():
        v = snap.snapshot_read(spark, vp)
        return v.select(
            "vec_id",
            F.lit(-1).cast("int").alias("label"),
            F.col("embedding").alias("v"),
        )

    want = {
        (r["vec_id"], r["assigned_cell"])
        for r in assign_to_cells(live_vecs(), cells_b).collect()
    }
    got = {
        (r["vec_id"], r["assigned_cell"])
        for r in snap.snapshot_read(spark, ip).select(
            "vec_id", "assigned_cell"
        ).collect()
    }
    assert got == want
    # a tick with the OLD quantizer refuses; with B it proceeds
    snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame(
            [(200, [0.9, 0.2, 0.0], "0")],
            "vec_id long, embedding array<double>, p string",
        ),
        vp, "p", keep_snapshots=10,
    )
    with pytest.raises(ValueError, match="quantizer drift"):
        maintain_vector_index(spark, vp, ip, fwd, cells_a)
    assert maintain_vector_index(spark, vp, ip, fwd, cells_b) is not None
    assert snap.snapshot_read(spark, ip).where(
        F.col("vec_id") == 200
    ).count() == 1


def _index_service(spark, tmp_path, kind):
    """A small source snapshot table and its band or vector index, as
    (land, tick, rebuild, tables, parity): ``land(ids, edit)`` commits
    source rows ``ids`` (content varied by ``edit``) over partitions
    p=0/1, ``tick``/``rebuild`` run the maintain/rebuild verb,
    ``tables`` are the index's tables (the one holding the pin first),
    and ``parity()`` asserts the index equals the derivation of the
    live source."""
    from callio_etl_spark import snapshots as snap

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    if kind == "band":
        from callio_etl_spark.llm_ops.dedup_ops import (
            band_projection,
            maintain_band_index,
            rebuild_band_index,
        )

        def land(ids, edit=0):
            rows = [(i, f"w{i} alpha beta t{(i + edit) % 5}", str(i % 2)) for i in ids]
            df = spark.createDataFrame(rows, "doc_id long, text string, p string")
            snap.snapshot_partition_overwrite(spark, df, src, "p", keep_snapshots=20)

        def tick():
            return maintain_band_index(spark, src, idx, keep_snapshots=20)

        def rebuild():
            return rebuild_band_index(spark, src, idx, keep_snapshots=20)

        def parity():
            props = snap.snapshot_properties(spark, idx)
            want = band_projection(
                snap.snapshot_read(spark, src).select("doc_id", "text"),
                int(props["band.rows_per_band"]),
                int(props["band.n_bands"]),
            )
            got = snap.snapshot_read(spark, idx).select(*want.columns)
            assert {tuple(r) for r in got.collect()} == {
                tuple(r) for r in want.collect()
            }

        return land, tick, rebuild, [idx], parity

    from callio_etl_spark.llm_ops.similarity import (
        assign_to_cells,
        maintain_vector_index,
        rebuild_vector_index,
    )

    fwd = str(tmp_path / "fwd")
    cells = spark.createDataFrame(
        [(c, [float(c == k) for k in range(3)]) for c in range(3)],
        "label int, cv array<double>",
    )

    def land(ids, edit=0):
        # vector i sits nearest cell (i + edit) % 3
        rows = [
            (i, [1.0 if k == (i + edit) % 3 else 0.1 for k in range(3)], str(i % 2))
            for i in ids
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, p string"
        )
        snap.snapshot_partition_overwrite(spark, df, src, "p", keep_snapshots=20)

    def tick():
        return maintain_vector_index(spark, src, idx, fwd, cells, keep_snapshots=20)

    def rebuild():
        return rebuild_vector_index(spark, src, idx, fwd, cells, keep_snapshots=20)

    def parity():
        live = snap.snapshot_read(spark, src).select(
            "vec_id",
            F.lit(-1).cast("int").alias("label"),
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        want = {
            (r["vec_id"], r["assigned_cell"])
            for r in assign_to_cells(live, cells).collect()
        }
        for t in (idx, fwd):
            got = snap.snapshot_read(spark, t).select("vec_id", "assigned_cell")
            assert {tuple(r) for r in got.collect()} == want, t

    return land, tick, rebuild, [idx, fwd], parity


@pytest.mark.parametrize("kind", ["band", "vector"])
def test_index_restore_replays_from_its_recorded_version(spark, tmp_path, kind):
    """The source version an index reflects rides the index's own
    commit, so a ``snapshot_restore`` of the index to its first version
    also restores the position it consumes from: the next tick re-reads
    every later source commit, returns the live source version, and the
    index equals the derivation of the live source. (For the vector
    index only the postings are restored, so the tick also runs the
    path where the two tables record different versions: the second
    commit empties cell 2, which the forward map then no longer names,
    yet the restored postings still hold it.)"""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.snapshots import SOURCE_VERSION_PROP

    land, tick, _rebuild, tables, parity = _index_service(spark, tmp_path, kind)
    land(range(12))
    v1 = tick()
    first = snap.snapshot_versions(spark, tables[0])[0]
    land([i for i in range(4, 16) if i % 3 != 1], edit=1)
    assert tick() > v1
    snap.snapshot_restore(spark, tables[0], first, keep_snapshots=20)
    assert int(
        snap.snapshot_properties(spark, tables[0])[SOURCE_VERSION_PROP]
    ) == v1
    live = snap.snapshot_versions(spark, str(tmp_path / "src"))[-1]
    assert tick() == live
    parity()
    assert tick() is None


@pytest.mark.parametrize("kind", ["band", "vector"])
def test_index_service_on_viewfs_default_fs(spark, viewfs, kind):
    """The index state is written through the index's own filesystem,
    never the driver's: under a viewfs default FS mounted onto a local
    dir (a stand-in for a cluster's HDFS), a maintain tick, a rebuild
    and a further tick land every index table under the mount, write
    nothing at the scheme-less path on the driver's disk, and a last
    tick finds the index current."""
    import os

    remote, mounted = viewfs
    land, tick, rebuild, tables, parity = _index_service(spark, remote, kind)
    land(range(8))
    assert tick() is not None
    rebuild()
    land(range(2, 10), edit=1)
    assert tick() is not None
    assert tick() is None
    parity()
    assert not remote.exists(), "the index service wrote to the driver's disk"
    for t in tables:
        assert (mounted / os.path.basename(t) / "__snap__").is_dir(), t


@pytest.mark.parametrize("kind", ["band", "vector"])
def test_noop_index_tick_starts_no_spark_job(spark, tmp_path, kind):
    """A tick with nothing new reads metadata only (the index state and
    the source head) and starts no Spark job. The vector quantizer is
    checkpointed and fingerprinted only for a batch with rows."""
    land, tick, _rebuild, _tables, _parity = _index_service(spark, tmp_path, kind)
    land(range(10))
    assert tick() is not None
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    assert tick() is None
    assert sched.nextJobId() - before == 0


@pytest.mark.parametrize("kind", ["band", "vector"])
def test_index_records_a_rowless_source_commit(spark, tmp_path, kind):
    """A source commit that changes no row (a compaction) still moves
    the index's recorded source version, in one properties-only commit
    per index table — otherwise every later call would re-diff it — and
    the next call finds the index current."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.snapshots import SOURCE_VERSION_PROP

    land, tick, _rebuild, tables, parity = _index_service(spark, tmp_path, kind)
    land(range(10))
    assert tick() is not None
    src = str(tmp_path / "src")
    live = snap.snapshot_compact_partition(spark, src, "0", keep_snapshots=20)
    heads = {t: snap.snapshot_versions(spark, t)[-1] for t in tables}
    assert tick() == live
    for t in tables:
        assert snap.snapshot_versions(spark, t)[-1] == heads[t] + 1, t
        assert snap.snapshot_history(spark, t)[-1]["op"] == "set-properties"
        props = snap.snapshot_properties(spark, t)
        assert int(props[SOURCE_VERSION_PROP]) == live, t
    assert tick() is None
    parity()


@pytest.mark.parametrize(
    "kind, missing",
    [
        ("band", "pin"),
        ("band", "version"),
        ("vector", "pin"),
        ("vector", "version"),
        ("vector", "one_table"),
    ],
)
def test_index_missing_state_is_refused(spark, tmp_path, kind, missing):
    """An index's pin and source version ride its FIRST commit (one
    overwrite per table, no follow-up properties commit), so an existing
    index that lacks either — or a vector index with only one of its two
    tables — was not built by its maintainer. The tick refuses it with a
    pointer at the rebuild verb and commits nothing; the rebuild
    records both, after which the service resumes."""
    import os
    import shutil

    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.snapshots import SOURCE_VERSION_PROP

    land, tick, rebuild, tables, parity = _index_service(spark, tmp_path, kind)
    land(range(8))
    v = tick()
    pins = (
        ["band.rows_per_band", "band.n_bands"]
        if kind == "band"
        else ["ivf.quantizer_md5"]
    )
    for t in tables:
        assert [h["op"] for h in snap.snapshot_history(spark, t)] == ["overwrite"]
        assert int(snap.snapshot_properties(spark, t)[SOURCE_VERSION_PROP]) == v
    assert all(k in snap.snapshot_properties(spark, tables[0]) for k in pins)

    if missing == "pin":
        snap.snapshot_set_properties(
            spark, tables[0], dict.fromkeys(pins), keep_snapshots=20
        )
    elif missing == "version":
        snap.snapshot_set_properties(
            spark, tables[-1], {SOURCE_VERSION_PROP: None}, keep_snapshots=20
        )
    else:
        shutil.rmtree(tables[-1])
    land(range(4, 10), edit=1)
    present = [t for t in tables if os.path.isdir(t)]
    heads = {t: snap.snapshot_versions(spark, t) for t in present}
    rebuild_verb = f"rebuild_{kind}_index"
    with pytest.raises(ValueError, match=rebuild_verb):
        tick()
    assert {t: snap.snapshot_versions(spark, t) for t in present} == heads

    rebuild()
    assert tick() is None
    land(range(2, 12), edit=2)
    assert tick() is not None
    parity()


def test_maintain_and_rebuild_hold_service_lock(spark, tmp_path, monkeypatch):
    """r10 ADVICE fix (dedup_ops rebuild/maintain race): both the
    maintain tick and the rebuild hold the index's SERVICE lock across
    their whole sequence (observed at their inner commit calls) and
    release it after — the mutex that serializes a rebuild against a
    racing tick so the tick can never band against a pre-rebuild pin or
    publish a stale source version over the rebuilt index."""
    import os

    from callio_etl_spark import io as cio
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.llm_ops.dedup_ops import (
        maintain_band_index,
        rebuild_band_index,
    )

    docs_p, idx_p = str(tmp_path / "docs"), str(tmp_path / "idx")
    lock_file = idx_p + cio.SERVICE_LOCK_INFIX + cio.LOCK_SUFFIX
    d = spark.createDataFrame(
        [(i, f"w{i} alpha beta t{i % 5}", str(i % 2)) for i in range(8)],
        "doc_id long, text string, p string",
    )
    snap.snapshot_partition_overwrite(spark, d, docs_p, "p", keep_snapshots=10)

    observed = {}
    real = snap.snapshot_consume_changes

    def spy_consume(*a, **k):
        observed["tick"] = os.path.exists(lock_file)
        return real(*a, **k)

    monkeypatch.setattr(snap, "snapshot_consume_changes", spy_consume)
    assert maintain_band_index(spark, docs_p, idx_p) is not None
    assert observed["tick"], "maintain tick ran without the service lock"
    assert not os.path.exists(lock_file), "maintain leaked the service lock"

    real_ow = snap.snapshot_partition_overwrite

    def spy_ow(*a, **k):
        observed["rebuild"] = os.path.exists(lock_file)
        return real_ow(*a, **k)

    monkeypatch.setattr(snap, "snapshot_partition_overwrite", spy_ow)
    rebuild_band_index(spark, docs_p, idx_p)
    assert observed["rebuild"], "rebuild committed without the service lock"
    assert not os.path.exists(lock_file), "rebuild leaked the service lock"


def test_ivf_argmax_fold_matches_window_nan_ordering(spark):
    """Pins the NaN semantics the r14 assign/train argmax fold relies
    on (review claim REFUTED empirically, kept pinned): Spark SQL
    comparisons follow the NaN-greatest total order — NaN > x is TRUE
    for any non-NaN x, NaN > NaN is FALSE — in BOTH ANSI modes, so the
    fold keeps the FIRST NaN cell exactly like the r13
    ROW_NUMBER(bc DESC, label ASC) window, including on degenerate
    zero-norm vectors where cosine yields NaN (non-ANSI deployments)."""
    from pyspark.sql import Window

    cases = [
        ([0.5, float("nan"), 0.9], 1),  # NaN beats both reals
        ([float("nan"), float("nan")], 0),  # first NaN = lowest label
        ([0.1, 0.9, 0.9], 1),  # strict > keeps the FIRST max (label ASC)
    ]
    for scores, want in cases:
        arr = F.array(
            *[
                F.struct(
                    F.lit(s).cast("double").alias("bc"),
                    F.lit(i).cast("int").alias("new_label"),
                )
                for i, s in enumerate(scores)
            ]
        )
        best = F.aggregate(
            arr,
            F.struct(
                F.lit(-2.0).alias("bc"),
                F.lit(None).cast("int").alias("new_label"),
            ),
            lambda acc, s: F.when(s["bc"] > acc["bc"], s).otherwise(acc),
        )
        got = spark.range(1).select(best.alias("b")).collect()[0]["b"]
        assert got["new_label"] == want, (scores, got)
        # and the r13 window twin agrees on the same scores
        wdf = spark.createDataFrame(
            [(i, s) for i, s in enumerate(scores)], "label int, bc double"
        )
        w = Window.orderBy(F.col("bc").desc(), F.col("label").asc())
        top = (
            wdf.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .collect()[0]
        )
        assert top["label"] == want, (scores, top)


def test_materialize_size_gate_both_arms(spark, tmp_path):
    """r15 (VERDICT r14 item 4): the derived count/posting tables
    materialize through a size gate — localCheckpoint below the spill
    threshold (bench scale: plan shape identical to r14), a parquet
    scratch write above it (corpus-scale postings must not pin executor
    block storage). Both arms return the same rows."""
    import glob
    from urllib.parse import urlparse

    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops import matutil

    src = str(tmp_path / "mat_src")
    spark.range(0, 1000).select(
        "id", (F.col("id") % 7).alias("k")
    ).write.parquet(src)
    df = (
        spark.read.parquet(src)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    want = {(r["k"], r["n"]) for r in df.collect()}

    # arm 1 (default gate): checkpointed — LogicalRDD plan, no scratch
    before = list(matutil._SCRATCH_DIRS)
    got1 = matutil.materialize(df, "gate_test")
    assert (
        got1._jdf.queryExecution().analyzed().getClass().getSimpleName()
        == "LogicalRDD"
    )
    assert matutil._SCRATCH_DIRS == before, "below-gate arm wrote scratch"
    assert {(r["k"], r["n"]) for r in got1.collect()} == want

    # arm 2 (gate forced low): parquet scratch, re-read from disk
    try:
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b"
        )
        spark.conf.set("spark.callio.materialize.spillFactor", "1")
        got2 = matutil.materialize(df, "gate_test")
        assert len(matutil._SCRATCH_DIRS) == len(before) + 1
        scratch = urlparse(matutil._SCRATCH_DIRS[-1]).path
        assert glob.glob(f"{scratch}/*.parquet"), "no scratch files"
        assert "parquet" in got2._jdf.queryExecution().optimizedPlan().toString().lower()
        assert {(r["k"], r["n"]) for r in got2.collect()} == want
        # a stats-less frame (local relation: Catalyst reports the
        # defaultSizeInBytes sentinel) stays on the localCheckpoint arm
        # even with the gate forced low — "unknowable" is never "huge"
        stateless = spark.createDataFrame(
            [(int(k), int(n)) for k, n in want], "k long, n long"
        )
        got3 = matutil.materialize(stateless, "gate_test")
        assert len(matutil._SCRATCH_DIRS) == len(before) + 1
        assert (
            got3._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LogicalRDD"
        )
        assert {(r["k"], r["n"]) for r in got3.collect()} == want
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.callio.materialize.spillFactor")


def test_materialize_spill_scratch_under_warehouse_dir(spark, tmp_path):
    """The spill arm's scratch must sit where every executor can write
    — under ``spark.sql.warehouse.dir``, not the driver's temp dir — and
    ``_cleanup_scratch`` removes it through the Hadoop FS."""
    import os
    from urllib.parse import urlparse

    import pyspark.sql.functions as F

    from callio_etl_spark.llm_ops import matutil

    df = spark.range(0, 100).select("id", (F.col("id") % 3).alias("k"))
    try:
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b"
        )
        spark.conf.set("spark.callio.materialize.spillFactor", "1")
        got = matutil.materialize(df, "scratch_test")
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.callio.materialize.spillFactor")
    assert got.count() == 100
    scratch = matutil._SCRATCH_DIRS[-1]
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    local = urlparse(scratch).path
    assert local.startswith(warehouse.rstrip("/") + "/"), (scratch, warehouse)
    assert os.path.isdir(local)
    matutil._cleanup_scratch()
    assert not os.path.exists(local)
    assert matutil._SCRATCH_DIRS == []


def test_ckpt_once_checkpoints_an_rdd_backed_frame(spark):
    """``_ckpt_once`` skips only a frame that really is checkpointed:
    ``spark.createDataFrame(rdd)`` also plans as a LogicalRDD, but its
    RDD recomputes the lineage on every use, so it must be
    checkpointed; a checkpointed frame is returned as it is."""
    from callio_etl_spark.llm_ops.similarity import _ckpt_once

    def checkpointed(df):
        plan = df._jdf.queryExecution().analyzed()
        return (
            plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.rdd().isCheckpointed()
        )

    from_rdd = spark.createDataFrame(
        spark.sparkContext.parallelize([(1,), (2,)]), "a long"
    )
    assert not checkpointed(from_rdd)
    got = _ckpt_once(from_rdd)
    assert checkpointed(got)
    assert sorted(r["a"] for r in got.collect()) == [1, 2]
    assert _ckpt_once(got) is got


def _fence_publish_of(monkeypatch, table):
    """Make the service fence fail inside ``table``'s publish in
    ``snapshots._index_tick`` only: each table publishes on its own pool
    thread, so the wrapped publish marks its thread and the fence checks
    the mark."""
    import threading

    from callio_etl_spark import io as cio
    from callio_etl_spark import snapshots as snap

    mark = threading.local()
    real_publish, real_fence = snap._publish_index_table, cio.assert_service_fencing

    def publish(spark_, lock, path, *a, **k):
        mark.fenced = path == table
        return real_publish(spark_, lock, path, *a, **k)

    def fence(spark_, path):
        if getattr(mark, "fenced", False):
            raise RuntimeError("commit fencing: service lock reclaimed")
        return real_fence(spark_, path)

    monkeypatch.setattr(snap, "_publish_index_table", publish)
    monkeypatch.setattr(cio, "assert_service_fencing", fence)


@pytest.mark.parametrize(
    "verb, chain",
    [("maintain", "_fwd_chain"), ("rebuild", "_postings_chain")],
)
def test_vector_index_chain_fences_its_own_publish(
    spark, tmp_path, monkeypatch, verb, chain
):
    """The postings and forward-map commit chains run concurrently, so
    each one fences the service lock right before its own publish: a
    holder that stalls inside a chain and lost the lock must not
    publish there. The fence is made to fail inside one chain only;
    that chain's table gains no manifest and keeps its recorded source
    version, so the two tables' versions differ and the next tick
    rebuilds both from the live source: both tables match again."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.llm_ops.similarity import (
        maintain_vector_index,
        rebuild_vector_index,
    )
    from callio_etl_spark.snapshots import SOURCE_VERSION_PROP

    vp = str(tmp_path / "vecs")
    ip, fwd = str(tmp_path / "idx"), str(tmp_path / "fwd")
    schema = "vec_id long, embedding array<double>, p string"
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)], str(i % 2)) for i in range(12)],
        schema,
    )
    cells = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "label int, cv array<double>",
    )
    snap.snapshot_partition_overwrite(spark, vecs, vp, "p", keep_snapshots=5)
    assert maintain_vector_index(spark, vp, ip, fwd, cells) is not None
    snap.snapshot_partition_overwrite(
        spark,
        spark.createDataFrame([(100, [0.5, 0.5, 0.0], "0")], schema),
        vp, "p", keep_snapshots=5,
    )
    fenced_table = fwd if chain == "_fwd_chain" else ip
    before = snap.snapshot_versions(spark, fenced_table)
    recorded = snap.snapshot_properties(spark, fenced_table)[SOURCE_VERSION_PROP]

    _fence_publish_of(monkeypatch, fenced_table)
    with pytest.raises(RuntimeError, match="commit fencing"):
        if verb == "maintain":
            maintain_vector_index(spark, vp, ip, fwd, cells)
        else:
            rebuild_vector_index(spark, vp, ip, fwd, cells)
    assert snap.snapshot_versions(spark, fenced_table) == before
    assert (
        snap.snapshot_properties(spark, fenced_table)[SOURCE_VERSION_PROP]
        == recorded
    )
    monkeypatch.undo()
    assert maintain_vector_index(spark, vp, ip, fwd, cells) is not None
    postings = snap.snapshot_read(spark, ip).select("vec_id", "assigned_cell")
    fmap = snap.snapshot_read(spark, fwd).select("vec_id", "assigned_cell")
    assert {tuple(r) for r in postings.collect()} == {
        tuple(r) for r in fmap.collect()
    }


def test_vector_index_split_tables_recover_a_reverted_row(
    spark, tmp_path, monkeypatch
):
    """When the postings and the forward map record different source
    versions (here the forward map's publish was fenced out), the next
    tick rebuilds both tables from the live source with the pins kept.
    A replay of the feed from the older version could not reach a row
    that a later source commit reverted: the diff between the older
    version and the live one does not name it, and the table that had
    applied the change would keep it."""
    from callio_etl_spark import snapshots as snap
    from callio_etl_spark.snapshots import SOURCE_VERSION_PROP

    land, tick, _rebuild, (ip, fwd), parity = _index_service(
        spark, tmp_path, "vector"
    )
    land(range(6))
    v1 = tick()
    pin = snap.snapshot_properties(spark, ip)["ivf.quantizer_md5"]
    land(range(6), edit=1)
    with monkeypatch.context() as m:
        _fence_publish_of(m, fwd)
        with pytest.raises(RuntimeError, match="commit fencing"):
            tick()
    assert int(snap.snapshot_properties(spark, fwd)[SOURCE_VERSION_PROP]) == v1
    assert int(snap.snapshot_properties(spark, ip)[SOURCE_VERSION_PROP]) > v1
    land(range(6))
    live = snap.snapshot_versions(spark, str(tmp_path / "src"))[-1]
    assert tick() == live
    parity()
    assert snap.snapshot_properties(spark, ip)["ivf.quantizer_md5"] == pin
    assert tick() is None
