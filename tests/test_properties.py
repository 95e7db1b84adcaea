"""Property-style checks (SURVEY section 5, item 4): the reference's
correctness hinges on ordering-sensitive dedup and hash-based change
detection, so those two invariants get randomized-permutation coverage —
dedup must pick the same winner regardless of input order, and row_hash must
be stable across row/column order and volatile-column churn.

Hypothesis drives the row generation; one Spark job per example is too slow,
so each property samples several permutations inside a single test body.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from callio_etl_spark.dedup import latest_per_key
from callio_etl_spark.functions import row_hash

# (key, ts, payload) pools deliberately tiny so duplicate keys AND duplicate
# timestamps (tie cases) are common.
ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=12, deadline=None)
@given(rows=ROWS, seed=st.integers(min_value=0, max_value=2**16))
def test_latest_per_key_is_input_order_invariant(spark, rows, seed):
    """D3 with a unique tiebreaker must be a pure function of the row SET:
    any permutation of the input yields the identical winner per key."""
    rng = random.Random(seed)
    perm = rows[:]
    rng.shuffle(perm)

    def run(data):
        df = spark.createDataFrame(data, "k long, ts long, payload long")
        # payload doubles as the unique-ish tiebreaker (max payload wins ties)
        out = latest_per_key(df, ["k"], F.col("ts"), tiebreak=[F.col("payload")])
        return sorted(map(tuple, out.collect()))

    assert run(rows) == run(perm)


@settings(max_examples=12, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.text(alphabet="abcxyz ", max_size=8),
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda r: r[0],
    ),
    volatile=st.integers(min_value=0, max_value=2**31),
)
def test_row_hash_ignores_volatile_and_column_order(spark, rows, volatile):
    """P7: the hash must not move when (a) volatile columns change or (b) the
    projection lists columns in a different order; it must move when a stable
    column changes."""
    base = spark.createDataFrame(
        [(k, s, volatile) for k, s in rows], "_id long, name string, updateTime long"
    )
    churned = spark.createDataFrame(
        [(k, s, volatile + 1) for k, s in rows],
        "_id long, name string, updateTime long",
    )
    reordered = base.select("updateTime", "name", "_id")

    def hashes(df):
        return {
            r["_id"]: r["h"]
            for r in df.withColumn("h", row_hash(df)).select("_id", "h").collect()
        }

    h0 = hashes(base)
    assert hashes(churned) == h0  # volatile column excluded
    assert hashes(reordered) == h0  # column order irrelevant (sorted by name)

    changed = base.withColumn("name", F.concat(F.col("name"), F.lit("!")))
    h1 = hashes(changed)
    assert all(h1[k] != h0[k] for k in h0)  # stable-column change moves it


def test_chunk_documents_reassembles_to_original(spark):
    """Joining each doc's chunks back in chunk order must reproduce the
    original text exactly — no token lost, duplicated, or reordered."""
    from callio_etl_spark.llm_ops.chunking import chunk_documents

    sf = "/root/testdata/sf0.001"
    chunks = chunk_documents(spark, sf)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("chunk_id", "chunk_text"))
                ).getField("chunk_text"),
                " ",
            ).alias("rebuilt")
        )
    )
    orig = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    bad = (
        orig.join(rebuilt, "doc_id")
        .where(F.col("text") != F.col("rebuilt"))
        .count()
    )
    assert bad == 0


def test_pack_sequences_conserves_tokens_and_bounds_packs(spark):
    """Packing must conserve the total token count per source and every
    pack's start offset must align to the running order (pack ids dense
    from 0, each pack below budget + one max-doc overhang)."""
    from callio_etl_spark.llm_ops.chunking import pack_sequences, PACK_BUDGET

    sf = "/root/testdata/sf0.001"
    packs = pack_sequences(spark, sf).cache()
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "source", F.size(F.split("text", " ")).alias("n")
    )
    per_src_docs = docs.groupBy("source").agg(
        F.sum("n").alias("tok"), F.max("n").alias("max_doc")
    )
    per_src_packs = packs.groupBy("source").agg(
        F.sum("pack_tokens").alias("tok"),
        F.min("pack_id").alias("min_pid"),
        F.max("pack_id").alias("max_pid"),
        F.count("*").alias("n_packs"),
    )
    j = per_src_docs.alias("d").join(per_src_packs.alias("p"), "source")
    # conservation
    assert j.where(F.col("d.tok") != F.col("p.tok")).count() == 0
    # dense pack ids starting at 0
    assert j.where(F.col("min_pid") != 0).count() == 0
    assert j.where(F.col("max_pid") != F.col("n_packs") - 1).count() == 0
    # a pack never exceeds budget by more than one straddling document
    over = packs.join(per_src_docs, "source").where(
        F.col("pack_tokens") >= PACK_BUDGET + F.col("max_doc")
    )
    assert over.count() == 0


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        max_size=18,
    ),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_star_cc_equals_baseline_on_random_graphs(spark, edges, seed):
    """large-star/small-star and min-label propagation are different
    fixpoint algorithms for the same function: on any random graph (self
    loops, duplicates, disconnected bits included) they must produce the
    identical (node, component-min) labeling."""
    from callio_etl_spark.llm_ops.dedup_ops import (
        connected_components,
        connected_components_star,
    )

    nodes = spark.createDataFrame([(i,) for i in range(12)], "node long")
    rng = random.Random(seed)
    perm = edges[:]
    rng.shuffle(perm)
    edf = spark.createDataFrame(
        perm or [(0, 0)], "src long, dst long"
    )
    base = {
        (r["node"], r["comp"]) for r in connected_components(nodes, edf).collect()
    }
    star = {
        (r["node"], r["comp"])
        for r in connected_components_star(nodes, edf).collect()
    }
    assert star == base


# (orderkey, suppkey, late?) pools tiny so multi-supplier orders and
# multi-late orders are common — the Q21 edge cases.
LINES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # orderkey
        st.integers(min_value=0, max_value=3),   # suppkey
        st.booleans(),                           # late line?
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(lines=LINES)
def test_q21_semi_anti_shape_matches_bruteforce(spark, lines):
    """The Q21 EXISTS/NOT-EXISTS composition (late line, some OTHER supplier
    on the order, no OTHER supplier late) must equal the per-row brute-force
    evaluation of those quantifiers for any line set."""
    df = spark.createDataFrame(
        [(o, s, l) for o, s, l in lines], "okey long, skey long, late boolean"
    )
    late = df.where(F.col("late")).select("okey", "skey").localCheckpoint()
    l1, l2, l3 = late.alias("l1"), df.alias("l2"), late.alias("l3")
    got = (
        l1.join(
            l2,
            (F.col("l1.okey") == F.col("l2.okey"))
            & (F.col("l1.skey") != F.col("l2.skey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.okey") == F.col("l3.okey"))
            & (F.col("l1.skey") != F.col("l3.skey")),
            "left_anti",
        )
        .groupBy("skey")
        .count()
    )
    got_map = {r["skey"]: r["count"] for r in got.collect()}
    # brute force over the raw tuples
    expect: dict[int, int] = {}
    for o, s, is_late in lines:
        if not is_late:
            continue
        others = any(oo == o and ss != s for oo, ss, _ in lines)
        other_late = any(
            oo == o and ss != s and ll for oo, ss, ll in lines
        )
        if others and not other_late:
            expect[s] = expect.get(s, 0) + 1
    assert got_map == expect


@given(
    w=st.integers(min_value=1, max_value=0xFFFFFFFF),
    h=st.integers(min_value=1, max_value=0xFFFFFFFF),
    tail=st.binary(max_size=64),
)
@settings(max_examples=200, deadline=None)
def test_png_gif_header_roundtrip_any_dims(w, h, tail):
    """parse_image_header must recover ANY constructed dimensions, not just
    the md5-derived range image_table uses: PNG big-endian u32, GIF
    little-endian u16 (h,w capped), arbitrary trailing bytes ignored."""
    import struct

    import callio_etl_spark.llm_ops.multimodal as mm

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    assert mm.parse_image_header(png + tail) == (w, h)
    gw, gh = (w - 1) % 0xFFFF + 1, (h - 1) % 0xFFFF + 1
    gif = b"GIF87a" + struct.pack("<HH", gw, gh)
    assert mm.parse_image_header(gif + tail) == (gw, gh)


@given(
    w=st.integers(min_value=1, max_value=0xFFFF),
    h=st.integers(min_value=1, max_value=0xFFFF),
    n_skip=st.integers(min_value=0, max_value=4),
    seg_sizes=st.lists(st.integers(min_value=0, max_value=40), max_size=4),
    sof=st.sampled_from([0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA]),
)
@settings(max_examples=200, deadline=None)
def test_jpeg_header_roundtrip_any_segment_chain(w, h, n_skip, seg_sizes, sof):
    """JPEG SOFn scan: any number of APPn/COM segments of any size before
    the frame header; every SOF marker variant parsed identically."""
    import struct

    import callio_etl_spark.llm_ops.multimodal as mm

    payload = b"\xff\xd8"
    for i in range(n_skip):
        size = seg_sizes[i % len(seg_sizes)] if seg_sizes else 0
        payload += bytes([0xFF, 0xE0 + (i % 15)]) + struct.pack(">H", size + 2) + b"\x00" * size
    payload += bytes([0xFF, sof]) + b"\x00\x11\x08" + struct.pack(">HH", h, w)
    payload += b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    assert mm.parse_image_header(payload) == (w, h)


@given(
    channels=st.integers(min_value=1, max_value=8),
    rate=st.integers(min_value=1, max_value=384_000),
    bits=st.sampled_from([8, 16, 24, 32]),
    data=st.binary(max_size=128),
    pre_chunks=st.lists(st.binary(min_size=4, max_size=20), max_size=3),
)
@settings(max_examples=200, deadline=None)
def test_wav_header_roundtrip_any_chunk_chain(channels, rate, bits, data, pre_chunks):
    """parse_audio_header: any fmt values survive a chunk chain with
    arbitrary unknown chunks (word-aligned) before fmt/data."""
    import struct

    import callio_etl_spark.llm_ops.multimodal as mm

    chunks = b""
    for i, body in enumerate(pre_chunks):
        cid = (b"LIST", b"fact", b"cue ")[i % 3]
        chunks += cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * bits // 8, channels * bits // 8, bits)
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    assert mm.parse_audio_header(wav) == (channels, rate, bits, len(data))


@given(junk=st.binary(max_size=60))
@settings(max_examples=300, deadline=None)
def test_header_parsers_never_crash_on_garbage(junk):
    """Arbitrary bytes: both parsers must return a tuple or None — never
    raise — including inputs that start with valid magics then degenerate."""
    import callio_etl_spark.llm_ops.multimodal as mm

    for prefix in (b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"RIFF", b"GIF89a"):
        got_i = mm.parse_image_header(prefix + junk)
        assert got_i is None or (len(got_i) == 2 and all(x > 0 for x in got_i))
        got_a = mm.parse_audio_header(prefix + junk)
        assert got_a is None or len(got_a) == 4


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),   # order key (many ties)
            st.integers(min_value=-50, max_value=50), # value (neg + zero)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_prefix_sum_ordered_property(spark, rows):
    """prefix_sum_ordered must equal the single-partition global window on
    ANY multiset of (order-key, value) rows — heavy ties, negatives, and
    zeros included — because the unique id tiebreaker totalizes the order."""
    from pyspark.sql import Window

    from callio_etl_spark.llm_ops.sampling import prefix_sum_ordered

    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, k long, v long")
    order = [F.col("k").asc(), F.col("id").asc()]
    got = {
        r["id"]: r["cum"]
        for r in prefix_sum_ordered(df, "v", order, "cum").collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["cum"] for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want


# --------------------------------------------------------- span removal

# Tiny vocab + short docs so duplicated windows (cross-doc AND within-doc)
# are common; doc lengths straddle SUBSTR_K so the too-short path is hit.
_SPAN_DOCS = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=14),
    min_size=1,
    max_size=8,
)


def _span_removal_model(docs: list[list[str]], k: int):
    """Direct Python mirror of dedup_span_removal's definition: windows of
    k tokens keyed by content; the smallest (doc_id, pos) occurrence of
    each window survives; every other occurrence marks its k positions;
    docs are rebuilt from unmarked tokens."""
    occ: dict[tuple, tuple] = {}
    wins = []
    for d, toks in enumerate(docs):
        for p in range(len(toks) - k + 1):
            key = tuple(toks[p : p + k])
            wins.append((d, p, key))
            if key not in occ or (d, p) < occ[key]:
                occ[key] = (d, p)
    counts: dict[tuple, int] = {}
    for _, _, key in wins:
        counts[key] = counts.get(key, 0) + 1
    covered: set[tuple] = set()
    for d, p, key in wins:
        if counts[key] > 1 and (d, p) != occ[key]:
            covered.update((d, p + o) for o in range(k))
    out = {}
    for d, toks in enumerate(docs):
        kept = [t for i, t in enumerate(toks) if (d, i) not in covered]
        out[d] = (len(toks), len(toks) - len(kept), " ".join(kept))
    return out


@settings(max_examples=10, deadline=None)
@given(docs=_SPAN_DOCS)
def test_span_removal_matches_python_model(spark, tmp_path_factory, docs):
    """The distributed mark-and-cut must agree with a direct sequential
    implementation of the same definition on random tiny corpora —
    including within-doc repeats, overlapping duplicated windows, and
    docs shorter than the window."""
    from callio_etl_spark.llm_ops.dedup_ops import SUBSTR_K, dedup_span_removal

    tmp = tmp_path_factory.mktemp("span")
    rows = [
        (i, " ".join(toks), "en", "src0", len(" ".join(toks)))
        for i, toks in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["new_text"])
        for r in dedup_span_removal(spark, str(tmp)).collect()
    }
    assert got == _span_removal_model(docs, SUBSTR_K)


# ----------------------------------------------------- PMI / DSIR models

_SMALL_CORPUS = st.lists(
    st.tuples(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=12),
        st.sampled_from(["en", "de"]),
    ),
    min_size=2,
    max_size=8,
)


def _write_docs(spark, tmp, docs):
    rows = [
        (i, " ".join(toks), lang, "src0", len(" ".join(toks)))
        for i, (toks, lang) in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")


@settings(max_examples=8, deadline=None)
@given(docs=_SMALL_CORPUS)
def test_pmi_matches_python_model(spark, tmp_path_factory, docs):
    """pmi_cooccurrence vs a direct sequential model: windowed pair
    counts, unigram counts, linear-PMI scores, and the deterministic
    ranking must all agree on random tiny corpora (including docs
    shorter than the window and single-token docs)."""
    from callio_etl_spark.llm_ops.text_analysis import (
        PMI_MIN_CO,
        PMI_TOP,
        PMI_WINDOW,
        pmi_cooccurrence,
    )

    tmp = tmp_path_factory.mktemp("pmi")
    _write_docs(spark, tmp, docs)

    co: dict = {}
    uni: dict = {}
    for toks, _lang in docs:
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
        for i in range(len(toks)):
            for o in range(1, PMI_WINDOW + 1):
                if i + o < len(toks):
                    k = tuple(sorted((toks[i], toks[i + o])))
                    co[k] = co.get(k, 0) + 1
    total = sum(co.values())
    scored = [
        (co[k] * total / (uni[k[0]] * uni[k[1]]), k[0], k[1], co[k])
        for k in co
        if co[k] >= PMI_MIN_CO
    ]
    expect = sorted(scored, key=lambda r: (-r[0], r[1], r[2]))[:PMI_TOP]

    got = [
        (r["pmi_lin"], r["w1"], r["w2"], r["co"])
        for r in pmi_cooccurrence(spark, str(tmp))
        .orderBy("assoc_rank")
        .collect()
    ]
    assert [(g[1], g[2], g[3]) for g in got] == [(e[1], e[2], e[3]) for e in expect]
    assert all(abs(g[0] - e[0]) < 1e-12 for g, e in zip(got, expect))


@settings(max_examples=8, deadline=None)
@given(docs=_SMALL_CORPUS)
def test_dsir_matches_python_model(spark, tmp_path_factory, docs):
    """dsir_importance vs a direct sequential model of the hashed-bigram
    likelihood-ratio score (same md5 bucketing, same smoothing, same
    quantization) on random bilingual corpora."""
    import hashlib
    from callio_etl_spark.llm_ops.sampling import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        _DSIR_Q,
        dsir_importance,
    )
    import math

    tmp = tmp_path_factory.mktemp("dsir")
    _write_docs(spark, tmp, docs)

    def bucket(gram: str) -> int:
        return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

    grams = []  # (doc_id, bucket, is_target)
    for i, (toks, lang) in enumerate(docs):
        for a, b in zip(toks, toks[1:]):
            grams.append((i, bucket(f"{a} {b}"), lang == DSIR_TARGET_LANG))
    cnt_r: dict = {}
    cnt_t: dict = {}
    for _i, bk, is_t in grams:
        cnt_r[bk] = cnt_r.get(bk, 0) + 1
        if is_t:
            cnt_t[bk] = cnt_t.get(bk, 0) + 1
    t_r = len(grams)
    t_t = sum(1 for *_x, is_t in grams if is_t)

    def ratio(bk: int) -> float:
        return ((cnt_t.get(bk, 0) + 1) * (t_r + DSIR_BUCKETS)) / (
            (cnt_r[bk] + 1) * (t_t + DSIR_BUCKETS)
        )

    expect: dict = {}
    for i, (toks, _lang) in enumerate(docs):
        bks = [g[1] for g in grams if g[0] == i]
        if bks:
            q = sum(math.floor(ratio(b) * _DSIR_Q) for b in bks)
            expect[i] = q / _DSIR_Q / len(bks)
        else:
            expect[i] = 0.0

    got = {
        r["doc_id"]: r["importance"]
        for r in dsir_importance(spark, str(tmp)).collect()
    }
    assert set(got) == set(expect)
    assert all(abs(got[i] - expect[i]) < 1e-9 for i in got)


# --- range_join_bucketed time-grain collapse (late r6): the registered plan
# --- pre-aggregates events to (distinct timestamp, multiplicity) before the
# --- bin join and fans results back out per event. The shipped fixtures have
# --- nearly all-distinct microsecond timestamps, so the oracle barely
# --- exercises the dense-stream path; these corpora make collisions and
# --- bin-boundary timestamps the common case.

_RJ_BIN = 15 * 60 * 1_000_000  # mirrors queries.advanced.RANGE_BIN_US
_RJ_BASE = 1_700_000_000 * 1_000_000  # 2023-11-14, epoch micros

# Offsets drawn from a tiny pool straddling bin edges, so duplicates (dense
# instants) and exact-boundary cases (tb == ta + BIN, tb == bin edge) are
# common rather than adversarial corner cases.
_RJ_OFFSETS = st.lists(
    st.sampled_from(
        [0, 1, 7, _RJ_BIN - 1, _RJ_BIN, _RJ_BIN + 1, 2 * _RJ_BIN - 1,
         2 * _RJ_BIN, 2 * _RJ_BIN + 3, 3 * _RJ_BIN + 7]
    ),
    min_size=2,
    max_size=60,
)


@settings(max_examples=6, deadline=None)
@given(offsets=_RJ_OFFSETS, seed=st.integers(min_value=0, max_value=2**16))
def test_range_join_collapse_matches_bruteforce(spark, tmp_path_factory, offsets, seed):
    """The time-grain collapsed plan must equal the brute-force interval
    count — for each event, the number of OTHER events with
    ts_other in (ts, ts + 15 min] — on streams where many events share an
    instant and instants sit exactly on bin boundaries."""
    from callio_etl_spark.queries.advanced import range_join_bucketed

    rng = random.Random(seed)
    ts_us = [_RJ_BASE + rng.choice(offsets) for _ in range(len(offsets))]
    tmp = tmp_path_factory.mktemp("rj")
    (
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(ts_us)], "event_id long, ts_us long"
        )
        .select("event_id", F.timestamp_micros("ts_us").alias("ts"))
        .write.mode("overwrite")
        .parquet(f"{tmp}/events.parquet")
    )

    expect = {
        i: sum(1 for tb in ts_us if ta < tb <= ta + _RJ_BIN)
        for i, ta in enumerate(ts_us)
    }
    got = {
        r["event_id"]: r["n_next15m"]
        for r in range_join_bucketed(spark, str(tmp)).collect()
    }
    assert got == expect


@given(
    values=st.lists(
        st.one_of(st.integers(-(2**62), 2**62), st.text(max_size=30)),
        min_size=1,
        max_size=200,
    ),
    probes=st.lists(
        st.one_of(st.integers(-(2**62), 2**62), st.text(max_size=30)),
        max_size=50,
    ),
)
@settings(max_examples=200, deadline=None)
def test_bloom_bitmap_properties(values, probes):
    """Pure-Python laws of the snapshot store's bloom bitmaps (the JVM
    side is parity-tested separately): NO false negative is possible for
    any inserted value, the bitmap folds order-independently, and a
    probe miss for an absent value is honest (whenever the bitmap says
    absent, the value truly was not inserted)."""
    from callio_etl_spark.snapshots import (
        BLOOM_K,
        BLOOM_M,
        _bloom_hex,
        _bloom_may_contain,
        bloom_probe_positions,
    )

    pos = [p for v in values for p in bloom_probe_positions(v)]
    hexmap = _bloom_hex(pos, BLOOM_M)
    # order/duplication independence of the fold
    import random as _random

    shuf = list(pos)
    _random.Random(0).shuffle(shuf)
    assert _bloom_hex(shuf + shuf, BLOOM_M) == hexmap
    # no false negatives, ever
    for v in values:
        assert _bloom_may_contain(hexmap, bloom_probe_positions(v))
    # a reported miss is always a true miss (soundness of pruning);
    # str-keyed containment mirrors the cast-to-string write contract
    inserted = {str(v) for v in values}
    for q in probes:
        if not _bloom_may_contain(hexmap, bloom_probe_positions(q)):
            assert str(q) not in inserted


# ---------------------------------------------------------------- renames


@given(
    n_renames=st.integers(0, 6),
    dir_version=st.integers(1, 50),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_stored_name_resolution_laws(n_renames, dir_version, data):
    """The era-resolution function under random CHAINED rename histories:
    (1) no renames -> identity; (2) a dir newer than every rename stores
    the current name; (3) replaying the renames that postdate the dir,
    oldest-first, maps the stored name back to the current name (the
    round-trip law the reader depends on)."""
    from callio_etl_spark.snapshots import _stored_name

    # build a chained history over one column: name0 -> name1 -> ... at
    # strictly increasing versions
    versions = sorted(
        data.draw(
            st.lists(
                st.integers(2, 60), min_size=n_renames, max_size=n_renames,
                unique=True,
            )
        )
    )
    names = [f"n{i}" for i in range(n_renames + 1)]
    renames = [
        {"version": v, "from": names[i], "to": names[i + 1]}
        for i, v in enumerate(versions)
    ]
    current = names[-1]

    assert _stored_name([], current, dir_version) == current  # (1)
    if not renames or dir_version >= max(r["version"] for r in renames):
        assert _stored_name(renames, current, dir_version) == current  # (2)

    stored = _stored_name(renames, current, dir_version)
    # (3) replay the renames the dir predates, oldest-first
    replay = stored
    for r in sorted(renames, key=lambda r: r["version"]):
        if r["version"] > dir_version and r["from"] == replay:
            replay = r["to"]
    assert replay == current


@given(dir_version=st.integers(1, 30), drop_v=st.integers(2, 20), readd=st.booleans())
@settings(max_examples=100, deadline=None)
def test_drop_tombstone_never_resolves_to_live_name(dir_version, drop_v, readd):
    """Drop semantics: a pre-drop dir's stored name for the (re-added)
    column is the tombstone — never the live column name — so dead
    values cannot resurface; post-drop dirs resolve to the live name."""
    from callio_etl_spark.snapshots import _stored_name

    tomb = "__dropped_secret_abc123__"
    renames = [{"version": drop_v, "from": tomb, "to": "secret"}]
    stored = _stored_name(renames, "secret", dir_version)
    if dir_version < drop_v:
        assert stored == tomb
    else:
        assert stored == "secret"


@given(
    n_events=st.integers(0, 8),
    dir_version=st.integers(1, 80),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_stored_field_widen_rename_interleave_laws(n_events, dir_version, data):
    """_stored_field under random INTERLEAVED rename/widen histories over
    one column: (1) empty history -> identity; (2) a dir newer than every
    event stores the current (name, type); (3) the resolved (name, type)
    equals a forward simulation of the column's life stopped at the dir's
    commit version — the reader law era casting depends on; (4) widens
    recorded under era-local names resolve for dirs of ANY era."""
    from callio_etl_spark.snapshots import _stored_field

    versions = sorted(
        data.draw(
            st.lists(
                st.integers(2, 90), min_size=n_events, max_size=n_events,
                unique=True,
            )
        )
    )
    kinds = data.draw(
        st.lists(
            st.sampled_from(["rename", "widen"]),
            min_size=n_events, max_size=n_events,
        )
    )
    chain = ["byte", "short", "integer", "long"]
    # forward-simulate the column's life, recording the histories the
    # manifest would hold (renames under era-local names, widens under
    # the name current AT WIDEN TIME) and the (name, type) timeline
    name, typ = "c0", "byte"
    renames, widens = [], []
    timeline = [(1, name, typ)]  # (version, name, type) from this version on
    ri = ti = 0
    for v, kind in zip(versions, kinds):
        if kind == "rename":
            ri += 1
            renames.append({"version": v, "from": name, "to": f"c{ri}"})
            name = f"c{ri}"
        else:
            if chain.index(typ) == len(chain) - 1:
                continue  # fully widened: no-op event
            nxt = chain[chain.index(typ) + 1]
            widens.append(
                {"version": v, "name": name, "from": typ, "to": nxt}
            )
            typ = nxt
        timeline.append((v, name, typ))

    got = _stored_field(renames, widens, name, typ, dir_version)

    # (1) empty history -> identity
    assert _stored_field([], [], name, typ, dir_version) == (name, typ)
    # (2) dir newer than every event -> current pair
    if not versions or dir_version >= max(versions):
        assert got == (name, typ)
    # (3) forward simulation stopped at the dir's version
    want = max(
        ((v, n, t) for v, n, t in timeline if v <= dir_version),
        key=lambda e: e[0],
    )
    assert got == (want[1], want[2])


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["Call-Log", "call log", "customer"]),
            st.sampled_from(["PK", "T2"]),
            st.integers(min_value=0, max_value=99),
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
            st.sampled_from(
                ["NOOP", "STAGED", "MERGED", "APPEND", "TRUNCATE",
                 "ERROR_LOGIN"]
            ),
        ),
        min_size=1,
        max_size=24,
    ),
    keep=st.integers(min_value=1, max_value=3),
)
def test_update_log_compaction_matches_python_mirror(spark, rows, keep):
    """r13: CheckpointStore.compact over ARBITRARY mode histories retains
    EXACTLY the newest-``keep`` audit rows per normalized (table, tenant)
    plus each key's checkpoint row (max max_update_ms, nulls last) — a
    pure function of the row set, mirrored row-for-row in Python. Every
    updated_at is distinct, so the expected set is unambiguous; table
    names mix the '-'/' '/case forms to pin that retention KEYS on the
    normalized name while row content is preserved verbatim (warm()
    normalizes on read, so rewriting stored names would be a silent
    content mutation)."""
    import datetime as dt
    import shutil
    import tempfile
    import uuid

    from callio_etl_spark.checkpoints import (
        UPDATE_LOG_SCHEMA,
        CheckpointStore,
        normalize_table,
    )
    from callio_etl_spark.snapshots import snapshot_append, snapshot_read

    t0 = dt.datetime(2024, 1, 1)
    data = [
        (tbl, ten, t0 + dt.timedelta(seconds=i), n, ck, mode)
        for i, (tbl, ten, n, ck, mode) in enumerate(rows)
    ]
    # hypothesis forbids the function-scoped tmp_path fixture under
    # @given (one dir would be shared across examples) — per-example dir
    root = tempfile.mkdtemp(prefix="plog_")
    log_path = f"{root}/log_{uuid.uuid4().hex[:8]}"
    snapshot_append(
        spark, spark.createDataFrame(data, UPDATE_LOG_SCHEMA), log_path, None
    )

    # Python mirror of the two window rules
    by_key: dict = {}
    for tbl, ten, ua, n, ck, mode in data:
        # grouping key normalizes; the RETAINED row keeps its raw name
        by_key.setdefault((normalize_table(tbl), ten), []).append(
            (tbl, ten, ua, n, ck, mode)
        )
    expected = set()
    for key, items in by_key.items():
        audit = sorted(
            items,
            key=lambda r: (-r[2].timestamp(), r[4] is None, -(r[4] or 0)),
        )
        expected |= set(audit[:keep])
        ck_row = sorted(
            items,
            key=lambda r: (r[4] is None, -(r[4] or 0), -r[2].timestamp()),
        )[0]
        expected.add(ck_row)

    store = CheckpointStore(spark, log_path)
    retained = store.compact(keep_rows_per_key=keep)
    got = {
        (r["table_name"], r["tenant"], r["updated_at"], r["rows_loaded"],
         r["max_update_ms"], r["mode"])
        for r in snapshot_read(spark, log_path).collect()
    }
    assert got == expected, (
        f"retention diverged: extra={got - expected} "
        f"missing={expected - got}"
    )
    assert retained == len(expected)
    # warm() parity: the checkpoint per key survives any history
    after = CheckpointStore(spark, log_path)
    after.warm()
    for key, items in by_key.items():
        cks = [r[4] for r in items if r[4] is not None]
        assert after._cache.get(key) == (max(cks) if cks else None)
    shutil.rmtree(root, ignore_errors=True)
