"""Similarity search over embedding columns (SURVEY.md section 7.4).

Two tiers, as a production ANN pipeline would stage them:

- ``ann_topk_brute``   exact top-k cosine — the correctness baseline. At
  100 TB this is the within-bucket scorer, never run all-pairs.
- ``ann_topk_ivf``     IVF-style bucketed search: candidates restricted to
  the query's coarse partition, so the pair join is |bucket|² not N².
  Here the coarse assignment is the precomputed ``label`` column; in
  production it is argmin-centroid from pyspark.ml KMeans (same plan shape:
  broadcast centroids -> assign -> co-partitioned self-join).

Determinism: dot products accumulate sequentially in double on both engines
(verified bit-identical vs DuckDB list_cosine_similarity on DOUBLE[]), so
rank ordering is exact; ties broken by neighbor id.

Scale notes: the scoring expression (zip_with + aggregate) is JVM codegen —
no Python. For very wide vectors a pandas_udf with numpy BLAS wins; keep that
behind the same operator signature. The candidate join broadcasts the query
set when small (hinted) — at 1000 executors the big side never shuffles.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from callio_etl_spark.registry import register
from callio_etl_spark.snapshots import INDEX_BUCKETS, _index_tick, snapshot_read
from callio_etl_spark.tables import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors in the demo queries


def dot(u: Column, w: Column) -> Column:
    """Sequential double dot product — bit-compatible with DuckDB.

    Measured note: an unrolled u[0]*w[0]+u[1]*w[1]+... expression chain is
    2x SLOWER than this higher-order aggregate at dim=64 (the giant tree
    defeats whole-stage codegen) — don't "optimize" it that way. The real
    fast path for huge N is an Arrow pandas_udf with numpy GEMM, which gives
    up bit-parity with the sequential oracle (pairwise summation) and is
    therefore kept out of the oracle-checked operators."""
    return F.aggregate(F.zip_with(u, w, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def _dim_guard(u: Column, w: Column, cos: Column) -> Column:
    """The cosine dimension guard: zip_with pads the shorter side with
    NULLs, so a dimension mismatch would NULL-poison the dot product and
    silently DROP the row from every ranking/filter downstream — raise at
    execution instead (one size comparison per row; the branch keeps the
    oracle-parity expression untouched for well-formed data)."""
    return F.when(F.size(u) == F.size(w), cos).otherwise(
        F.raise_error(
            F.concat(
                F.lit("cosine: dimension mismatch "),
                F.size(u).cast("string"),
                F.lit(" vs "),
                F.size(w).cast("string"),
            )
        ).cast("double")
    )


def cosine(u: Column, w: Column) -> Column:
    """Guarded cosine (see _dim_guard). For PAIR-join consumers — where
    this expression runs once per candidate pair — use norm() +
    cosine_with_norms() instead: two of the three folds here depend on
    one row only and belong in a per-row projection (r14, guide §1.2
    "per-task work")."""
    return _dim_guard(u, w, dot(u, w) / (F.sqrt(dot(u, u)) * F.sqrt(dot(w, w))))


def norm(v: Column) -> Column:
    """sqrt(dot(v,v)) — exactly the per-side subexpression cosine()
    computes, exposed so pair consumers can hoist it to a per-row
    projection. Same IEEE sequence, bit-identical."""
    return F.sqrt(dot(v, v))


def cosine_with_norms(u: Column, w: Column, nu: Column, nw: Column) -> Column:
    """cosine() with the two norm folds hoisted to per-ROW columns
    (computed via norm()): dot/(nu*nw) is the identical IEEE op sequence
    — same dot fold, same sqrt per side, same multiply, same divide — so
    the result is bit-identical to cosine(u, w), at ONE array fold per
    evaluated pair instead of three. Use in join conditions and pair
    projections where each row is touched by many pairs (r14)."""
    return _dim_guard(u, w, dot(u, w) / (nu * nw))


def _dmean(val: Column) -> Column:
    """Floor-quantized decimal-exact mean — THE cross-engine parity
    recipe for aggregated doubles (see ivf_centroids): each value is
    floor-quantized at 1e-10 IN DOUBLE (the same IEEE op on both
    engines) and summed as exact integer DECIMAL, so the mean is
    bit-identical regardless of accumulation order. One definition so
    the quantum cannot drift between the centroid, codebook, covariance,
    and whitening operators."""
    return (
        F.sum(F.floor(val * F.lit(1e10)).cast("decimal(38,0)")).cast("double")
        / F.lit(1e10)
        / F.count("*")
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


@register(
    "ann_topk_brute",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cosine
  FROM q JOIN e c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY ROW_NUMBER() OVER w <= {TOP_K}
""",
    tags=["llm", "similarity"],
)
def ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for a query set: broadcast the queries,
    score every candidate (JVM-side zip_with/aggregate), window-rank per
    query. The baseline every ANN variant is measured against."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
    )


@register(
    "ann_topk_ivf",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS bucket,
         list_cosine_similarity(q.v, c.v) AS cosine
  FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, bucket, cosine,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY ROW_NUMBER() OVER w <= {TOP_K}
""",
    tags=["llm", "similarity"],
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed top-k: search only the query's coarse partition (here the
    precomputed ``label``; production: nearest KMeans centroid, probing >1
    bucket to trade recall for cost). The candidate join is an equi-join on
    the bucket key — co-partitioned, linear in bucket size, the 100 TB path."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = (
        F.broadcast(q)
        .join(e, (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("bucket"),
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
    )


def _topk_window(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= TOP_K
    )


@register("ann_topk_gemm", oracle=None, tags=["llm", "similarity"])
def ann_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow + numpy GEMM fast path for brute-force top-k: the query matrix
    (tiny — collected to the driver like a checkpoint scalar and closed over)
    hits each Arrow batch of candidates as one BLAS matrix multiply, each
    task emits only its partial top-k per query, and a final window re-ranks
    the ~(partitions x k x queries) survivors. This is the wide-vector
    production path the sequential-dot operators' docstrings point to; no
    SQL oracle because BLAS pairwise summation is not bit-identical to the
    sequential fold — tests/test_llm_ops.py asserts it ranks exactly like
    ann_topk_brute."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from callio_etl_spark.tables import spread

    emb = _emb(spark, sf_dir).select("vec_id", "v")
    qrows = emb.where(F.col("vec_id") < N_QUERIES).collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    qm = np.array([r["v"] for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, cosine double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(list(pdf["v"]), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            cos = cm @ qm.T  # |batch| x |queries| in one GEMM
            nid = pdf["vec_id"].to_numpy()
            frames = []
            for j, qid in enumerate(q_ids):
                col = cos[:, j]
                keep = nid != qid
                order = np.lexsort((nid[keep], -col[keep]))[:TOP_K]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": nid[keep][order],
                            "cosine": col[keep][order],
                        }
                    )
                )
            yield pd.concat(frames)

    scored = spread(emb).mapInPandas(score, out_schema)
    return _topk_window(scored)


QUANT_BITS = 127  # int8 symmetric range


@register(
    "embedding_quantize",
    oracle=f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id % 10 = 0
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) AS scale
  FROM v
)
SELECT vec_id,
       scale,
       CAST(len(e) AS BIGINT) AS dim,
       CAST(floor(e[1] / scale * {QUANT_BITS}) AS BIGINT) AS q0,
       CAST(floor(e[2] / scale * {QUANT_BITS}) AS BIGINT) AS q1,
       CAST(floor(e[3] / scale * {QUANT_BITS}) AS BIGINT) AS q2,
       CAST(floor(e[4] / scale * {QUANT_BITS}) AS BIGINT) AS q3
FROM s
""",
    tags=["llm", "similarity", "quantization"],
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (per-vector absmax scale)
    — the standard 4x storage/bandwidth cut before ANN serving. Pure
    per-row array math in codegen; floor() (not round(): engines disagree
    on tie-breaking) keeps the quantized codes engine-exact. Emits the
    scale + the first four codes as scalar columns (the driver's
    canonicalizer cannot sort array cells) so the oracle verifies the
    actual arithmetic."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 10 == 0)
    v = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform("e", lambda x: F.floor(x / F.col("scale") * QUANT_BITS))
    return (
        e.select("vec_id", v.alias("e"), scale.alias("scale"))
        .select(
            "vec_id",
            "scale",
            F.size("e").cast("long").alias("dim"),
            *[q.getItem(i).alias(f"q{i}") for i in range(4)],
        )
    )


EMB_DIM = 64


@register(
    "ann_recall_ivf",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
    FROM q JOIN e c ON c.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K}
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
    FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K}
)
SELECT b.query_id,
       CAST({TOP_K} AS BIGINT)  AS k,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
       CAST(COUNT(i.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM brute b
LEFT JOIN ivf i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
    tags=["llm", "similarity", "metric"],
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF bucketed path against the exact brute force —
    the metric every ANN deployment tracks to tune its probe count. A
    brute-force neighbor counts as recalled iff the IVF path also returned
    it for the same query; recall = hits / k per query.

    Plan: both top-k pipelines share the broadcast query set; the recall
    join is tiny (queries x k rows on each side). At 100 TB this runs on a
    sampled query set exactly like this one — the metric join never grows
    with the corpus."""
    brute = ann_topk_brute(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_topk_ivf(spark, sf_dir).select(
        F.col("query_id").alias("iq"), F.col("neighbor_id").alias("inb")
    )
    return (
        brute.join(
            ivf,
            (F.col("query_id") == F.col("iq")) & (F.col("neighbor_id") == F.col("inb")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(TOP_K).cast("long").alias("k"),
            F.count("inb").cast("long").alias("n_hits"),
            (F.count("inb").cast("double") / TOP_K).alias("recall_at_k"),
        )
    )


@register(
    "ivf_centroids",
    oracle=f"""
SELECT label,
       CAST(i AS BIGINT) AS dim,
       CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e10)
                     AS DECIMAL(38,0))) AS DOUBLE) / 1e10 / COUNT(*) AS centroid
FROM embeddings, range(1, {EMB_DIM} + 1) t(i)
GROUP BY label, i
""",
    tags=["llm", "similarity", "clustering"],
)
def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means update step that trains an IVF coarse quantizer: mean
    vector per current assignment (label), emitted as (label, dim,
    centroid) rows — array-free output, and the exact layout a broadcast
    centroid table uses for the next assign step.

    Plan: posexplode the vectors once, one hash aggregate on (label, dim)
    — map-side partial sums make this a single shuffle of |labels| x dim
    rows regardless of corpus size, which is why the assign/update loop
    scales to 100 TB (the reduce side never sees raw vectors).

    Bit-parity: each value is floor-quantized at 1e-10 IN DOUBLE (the same
    IEEE op on both engines) and summed as an exact integer DECIMAL — a
    raw double->DECIMAL(p,10) cast instead rounds via the shortest string
    repr in Spark but the full binary expansion in DuckDB, and a tie at
    the 10th decimal puts the two engines one quantum apart. The scaled
    sum stays inside DECIMAL(38,0) for any corpus (|v|<=4 -> 4e10/row)."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    )
    return (
        ex.groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            (
                F.sum(
                    F.floor(F.col("val").cast("double") * F.lit(1e10)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1e10)
                / F.count("*")
            ).alias("centroid")
        )
    )


N_PROBE = 2  # coarse cells searched per query in the multi-probe path


#: Shared oracle fragment: per-label centroid components, floor-quantized
#: at 1e-10 in double then summed as exact integer DECIMAL (same parity
#: rationale as ivf_centroids — a raw double->decimal cast rounds ties
#: differently across engines).
_CENT_SQL = f"""
  SELECT label, CAST(i AS BIGINT) AS dim,
         CAST(SUM(CAST(FLOOR(v[i] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS c
  FROM e, range(1, {EMB_DIM} + 1) t(i)
  GROUP BY label, i
"""


def _cvec(e: DataFrame) -> DataFrame:
    """Per-label centroid vectors (label, cv: array<double>) — the exact
    scaled-integer mean of ivf_centroids re-assembled into arrays. One
    posexplode + (label, pos) hash aggregate; the reduce side never sees
    raw vectors, and the |labels| output rows broadcast everywhere they're
    consumed. Mirrors _CENT_SQL term for term."""
    ex = e.select("label", F.posexplode("v").alias("pos", "val"))
    cent = ex.groupBy("label", F.col("pos").alias("pos")).agg(
        (
            F.sum(F.floor(F.col("val") * F.lit(1e10)).cast("decimal(38,0)"))
            .cast("double")
            / F.lit(1e10)
            / F.count("*")
        ).alias("c")
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.getField("c"),
        ).alias("cv")
    )


@register(
    "ann_topk_ivf_probe",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
cent AS ({_CENT_SQL}),
cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
probe AS (
  SELECT vec_id AS query_id, label FROM q
  UNION ALL
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, cv.label,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, cv.cv) DESC, cv.label ASC
           ) AS pr
    FROM q JOIN cvec cv ON cv.label <> q.label
  ) WHERE pr <= {N_PROBE - 1}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS bucket,
         list_cosine_similarity(q.v, c.v) AS cosine
  FROM q
  JOIN probe p ON p.query_id = q.vec_id
  JOIN e c ON c.label = p.label AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, bucket, cosine,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY ROW_NUMBER() OVER w <= {TOP_K}
""",
    tags=["llm", "similarity"],
)
def ann_topk_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k: each query searches its own coarse cell PLUS
    its {N_PROBE}-1 nearest OTHER cells by centroid cosine — the standard
    recall/cost dial of an IVF index (FAISS nprobe). Probing the own cell
    unconditionally makes the candidate set a strict superset of
    ann_topk_ivf's, so recall@k is monotone in N_PROBE by construction.

    Plan/scale: centroids come from the same (label, pos) decimal hash
    aggregate as ivf_centroids (one shuffle of |labels| x dim rows, corpus
    size irrelevant); the probe-selection join is queries x labels — both
    broadcast-tiny; the candidate join stays an equi-join on the cell label,
    now with N_PROBE probe rows per query, so cost is N_PROBE x the single-
    probe bucket scan. Nothing here is all-pairs; the 100 TB shape is
    unchanged from ann_topk_ivf."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    cvec = _cvec(e)
    own = q.select("query_id", "qv", F.col("qlabel").alias("plabel"))
    ranked = (
        q.join(F.broadcast(cvec), F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            "qv",
            F.col("label").alias("plabel"),
            cosine(F.col("qv"), F.col("cv")).alias("ccos"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("plabel").asc()
    )
    near = (
        ranked.withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") <= N_PROBE - 1)
        .select("query_id", "qv", "plabel")
    )
    probe = own.unionByName(near)
    scored = (
        F.broadcast(probe)
        .join(
            e,
            (F.col("label") == F.col("plabel"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("bucket"),
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    return _topk_window(scored)


@register(
    "ann_recall_ivf_probe",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
cent AS ({_CENT_SQL}),
cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
probe AS (
  SELECT vec_id AS query_id, label FROM q
  UNION ALL
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, cv.label,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, cv.cv) DESC, cv.label ASC
           ) AS pr
    FROM q JOIN cvec cv ON cv.label <> q.label
  ) WHERE pr <= {N_PROBE - 1}
),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
    FROM q JOIN e c ON c.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K}
),
single AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
    FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K}
),
multi AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
    FROM q
    JOIN probe p ON p.query_id = q.vec_id
    JOIN e c ON c.label = p.label AND c.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K}
)
SELECT b.query_id,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(s.neighbor_id) AS BIGINT) AS hits_single,
       CAST(COUNT(m.neighbor_id) AS BIGINT) AS hits_probe,
       CAST(COUNT(s.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_single,
       CAST(COUNT(m.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_probe
FROM brute b
LEFT JOIN single s
  ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
LEFT JOIN multi m
  ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
    tags=["llm", "similarity", "metric"],
)
def ann_recall_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of single-probe AND multi-probe IVF against exact brute
    force, side by side — the curve an IVF deployment reads to pick nprobe.
    Because the multi-probe candidate set is a superset of the single-probe
    set (own cell always probed), hits_probe >= hits_single per query;
    tests assert the aggregate improvement is strict on the shipped data.

    Plan: three top-k pipelines over the same broadcast query set; the
    recall joins are queries x k rows — driver-free, corpus-size-free."""
    brute = ann_topk_brute(spark, sf_dir).select("query_id", "neighbor_id")
    single = ann_topk_ivf(spark, sf_dir).select(
        F.col("query_id").alias("sq"), F.col("neighbor_id").alias("snb")
    )
    multi = ann_topk_ivf_probe(spark, sf_dir).select(
        F.col("query_id").alias("mq"), F.col("neighbor_id").alias("mnb")
    )
    return (
        brute.join(
            single,
            (F.col("query_id") == F.col("sq")) & (F.col("neighbor_id") == F.col("snb")),
            "left",
        )
        .join(
            multi,
            (F.col("query_id") == F.col("mq")) & (F.col("neighbor_id") == F.col("mnb")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(TOP_K).cast("long").alias("k"),
            F.count("snb").cast("long").alias("hits_single"),
            F.count("mnb").cast("long").alias("hits_probe"),
            (F.count("snb").cast("double") / TOP_K).alias("recall_single"),
            (F.count("mnb").cast("double") / TOP_K).alias("recall_probe"),
        )
    )


# ---------------------------------------------------------------- sign LSH

N_PLANES = 8  # hyperplanes -> 8-bit bucket signature (256 buckets)


def _plane_sign(j: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane weight in {+1.0, -1.0}: first
    byte of md5("j,i"). The weights are materialized as LITERALS in both
    the Spark expression and the SQL oracle (neither engine recomputes the
    hash), so any well-mixed deterministic source works — a closed-form
    parity of prime multiples does NOT (odd*odd keeps parity: every plane
    degenerates to ±parity(i+j), i.e. one plane repeated 8 times).
    ``i`` is the 1-based dimension."""
    import hashlib

    return 1.0 if hashlib.md5(f"{j},{i}".encode()).digest()[0] % 2 == 0 else -1.0


def _lsh_bits_sql() -> str:
    """The sign-LSH bucket expression over a double-array column ``v`` —
    the single source both oracles compose (the pairs oracle used to
    string-split this out of the buckets oracle's text, which broke on any
    benign reformat)."""
    dots = []
    for j in range(N_PLANES):
        terms = " + ".join(
            f"CAST(CAST(v[{i}] AS DOUBLE) * ({_plane_sign(j, i):.1f}) "
            f"AS DECIMAL(28,10))"
            for i in range(1, EMB_DIM + 1)
        )
        dots.append(f"CASE WHEN ({terms}) > 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(dots)


def _lsh_oracle() -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings)
SELECT vec_id, CAST({_lsh_bits_sql()} AS BIGINT) AS bucket
FROM e
"""


@register("embedding_lsh_buckets", oracle=_lsh_oracle(), tags=["llm", "similarity", "dedup"])
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (sign) LSH over the embedding column — the third
    bucketing technique next to IVF coarse partitions (ann_topk_ivf) and
    MinHash bands (minhash_lsh_pairs): each vector's bucket is the sign
    pattern of dot products against N_PLANES fixed hyperplanes, so cosine-
    similar vectors collide with probability 1 - theta/pi per plane
    (Charikar'02 SimHash for real vectors). Downstream, near-dup candidate
    pairs or ANN probes are equi-joins on (bucket), exactly like the IVF
    and band joins.

    Scale/plan: pure projection — one scan, zero shuffles, embarrassingly
    parallel at any corpus size; the signature is 8 int bits per vector.
    Determinism: each dot product accumulates per-term
    DECIMAL(28,10) casts of (value * ±1) — exact, order-independent
    addition, so the sign (and hence every bucket bit) is bit-identical
    across engines; the oracle spells out the same expansion."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return e.select("vec_id", lsh_bucket_col(F.col("v")).alias("bucket"))


def lsh_bucket_col(v: Column) -> Column:
    """The sign-LSH signature as a Column over a double-array column —
    reusable by any pipeline stage (and directly testable on constructed
    vectors).

    Guarded: the hyperplane literals are EMB_DIM wide, and zip_with pads
    the shorter side with NULLs — a vector of any other length would get a
    NULL-poisoned dot product and a silently degenerate bucket. A
    wrong-dimension vector now raises at execution instead."""
    bucket = None
    for j in range(N_PLANES):
        signs = F.array(
            *[F.lit(_plane_sign(j, i)) for i in range(1, EMB_DIM + 1)]
        )
        dot_j = F.aggregate(
            F.zip_with(v, signs, lambda x, s: (x * s).cast("decimal(28,10)")),
            F.lit(0).cast("decimal(28,10)"),
            # re-cast per step: decimal + decimal widens to (29,10) and the
            # HOF accumulator type is strict; values are ~|v| <= 64 so the
            # narrowing never rounds
            lambda acc, x: (acc + x).cast("decimal(28,10)"),
        )
        bit = F.when(dot_j > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return (
        F.when(F.size(v) == EMB_DIM, bucket.cast("long")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"lsh_bucket_col: expected {EMB_DIM}-dim vector, got "),
                    F.size(v).cast("string"),
                )
            ).cast("long")
        )
    )


def lsh_buckets_arrow(
    df: DataFrame, vec_col: str = "v", dim: int = EMB_DIM, n_planes: int = N_PLANES
):
    """Sign-LSH signatures via one Arrow-vectorized matrix multiply — the
    scale path for production dims. The codegen'd literal expression in
    lsh_bucket_col is the bit-parity form the DuckDB oracle can mirror, but
    its expression tree grows as n_planes*dim decimal casts: past a few
    hundred dims it blows the JIT method limit. Here the planes become one
    (dim, n_planes) float64 matrix (same _plane_sign weights), each Arrow
    batch is one numpy sign(X @ P) GEMM, and the bucket is the packed sign
    bitmask — identical buckets for well-conditioned data (exact-zero dot
    products can tie-break differently across float vs decimal; production
    bucketing tolerates that, bit-parity stays confined to the oracle
    path). Per-batch work, zero shuffles, any dimension.

    Returns a DataFrame with the non-vector columns preserved and
    ``bucket`` appended."""
    import numpy as np
    import pandas as pd

    planes = np.array(
        [
            [_plane_sign(j, i) for j in range(n_planes)]
            for i in range(1, dim + 1)
        ],
        dtype=np.float64,
    )
    powers = (1 << np.arange(n_planes)).astype(np.int64)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != vec_col
    ) + ", bucket long"

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy())
            if x.shape[1] != dim:
                raise ValueError(
                    f"lsh_buckets_arrow: expected {dim}-dim vectors, "
                    f"got {x.shape[1]}"
                )
            buckets = ((x @ planes) > 0) @ powers
            out = pdf.drop(columns=[vec_col])
            out["bucket"] = pd.Series(buckets, index=pdf.index)
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def _lsh_pairs_oracle() -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
b AS (SELECT vec_id, CAST({_lsh_bits_sql()} AS BIGINT) AS bucket, v FROM e)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, a.bucket,
       list_cosine_similarity(a.v::DOUBLE[], c.v::DOUBLE[]) AS cosine
FROM b a JOIN b c ON c.bucket = a.bucket AND c.vec_id > a.vec_id
"""


@register(
    "embedding_lsh_pairs",
    oracle=_lsh_pairs_oracle(),
    tags=["llm", "similarity", "dedup"],
)
def embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup CANDIDATE PAIRS: self equi-join on the sign-LSH bucket
    (never all-pairs — the join key is the 8-bit signature, so cost is
    sum(bucket_size²) like the MinHash band join), each candidate verified
    with the exact sequential cosine. This is the complete hyperplane-LSH
    dedup path: signature -> bucket join -> verify, the embedding analog of
    minhash_lsh_pairs -> ngram_jaccard verification.

    Scale: bucket count grows 2^N_PLANES with more planes, shrinking
    buckets; skewed buckets (mass around one direction) are the salting
    case — add a plane or salt the bucket key. The verify join's cosine is
    bit-identical to the oracle's list_cosine_similarity (sequential fold,
    established parity)."""
    from callio_etl_spark.tables import spread

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # Materialize the signature table once (SCALE.md self-join doctrine):
    # without this the 8-plane guarded signature is re-evaluated on BOTH
    # sides of the self-join — measured ~2x the query time at sf0.1.
    b = (
        spread(e)
        .select("vec_id", "v", lsh_bucket_col(F.col("v")).alias("bucket"))
        .localCheckpoint()
    )
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("c.bucket") == F.col("a.bucket"))
            & (F.col("c.vec_id") > F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("c.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            cosine(F.col("a.v"), F.col("c.v")).alias("cosine"),
        )
    )


@register(
    "ann_hard_negatives",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.label AS neg_label,
         list_cosine_similarity(q.v, c.v) AS cosine
  FROM q JOIN e c ON c.label <> q.label
)
SELECT query_id, neighbor_id, neg_label, cosine,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY ROW_NUMBER() OVER w <= {TOP_K}
""",
    tags=["llm", "similarity", "training"],
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the top-k
    most-similar vectors whose label DIFFERS — the examples a contrastive
    loss learns most from (high-cosine, wrong class). Same plan shape as
    ann_topk_brute with the label-inequality predicate replacing the
    self-exclusion; at corpus scale the candidate side is the ANN index
    (IVF cells of foreign labels), so mining stays a bucketed scan, and
    the per-query state is a k-heap (window top-k), never the corpus."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neg_label"),
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    return _topk_window(scored)


# ----------------------------------------------------------- semantic dedup

SEM_TAU = 0.25  # duplicate threshold; see docstring for why 0.25 here


@register(
    "semantic_dedup",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT e.vec_id, e.label,
       CAST(NOT EXISTS (
         SELECT 1 FROM e p
         WHERE p.label = e.label AND p.vec_id < e.vec_id
           AND list_cosine_similarity(p.v, e.v) > {SEM_TAU}
       ) AS BIGINT) AS keep
FROM e
""",
    tags=["llm", "similarity", "dedup"],
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each coarse cluster
    (label), a vector is a duplicate iff some LOWER-id vector in the same
    cluster exceeds cosine SEM_TAU — lowest-id-wins survivor selection,
    the pairwise (non-transitive) form that both engines can express
    exactly (the greedy-sequential variant is order-dependent; the
    transitive variant is dedup_cluster_assign's connected components).

    tau=0.25 because the synthetic embeddings are near-orthogonal (within-
    label cosine p99 ~ 0.30): production corpora use ~0.95+; the threshold
    is the knob, the plan is not. Plan/scale: the pair join runs over
    DISTINCT (label, vector) content groups, never raw rows (late-r6
    exact-collapse, same family as dedup_pipeline's): cosine depends only
    on the values, so a non-rep member of a content group is always a
    duplicate (its group min is a lower id at cosine ~1 > tau), and the
    group rep (min vec_id) is a duplicate iff some OTHER same-label group
    with a smaller min id exceeds tau — the raw rule's existential over
    members reduces to the group minima exactly. Verbatim re-ingest then
    costs a window row, not a re-score; the residual within-cluster
    sum(distinct^2) law keeps its documented mitigations (grow the
    cluster count with the corpus; semantic_dedup_arrow's GEMM constant).
    Cosine is the sequential fold with established cross-engine
    bit-parity.

    The collapse marks every non-rep member of a content group a
    duplicate; that step of the reduction is valid only when a vector's
    cosine with its own copy (1.0, or NaN for the all-zero vector)
    exceeds tau. tau >= 1 would break it silently, so it is asserted
    away here. An all-zero vector is the remaining caveat: its cosine is
    NaN, which the two engines compare differently (`NaN > tau` is true
    under Spark's NaN-greatest ordering in some contexts, false in
    DuckDB) — callers feeding embeddings that can be all-zero must drop
    or epsilon-pad them first; the synthetic fixtures are all nonzero."""
    assert SEM_TAU < 1.0, (
        "semantic_dedup's content-group collapse requires tau < 1 "
        "(a group's non-rep members are duplicates only because their "
        "cosine-1.0 self-match exceeds tau)"
    )
    e = _emb(spark, sf_dir)
    gw = Window.partitionBy("label", F.md5(F.col("v").cast("string")))
    keyed = e.withColumn("gmin", F.min("vec_id").over(gw))
    # r14: norms hoisted out of the pair join — cosine's |u| and |v|
    # folds depend on one row each, so compute them ONCE per rep here
    # and evaluate one fold per candidate pair in the join condition
    # (cosine_with_norms is bit-identical; guide §1.2 per-task work)
    reps = keyed.where(F.col("vec_id") == F.col("gmin")).select(
        "vec_id", "label", "v", norm(F.col("v")).alias("nrm")
    )
    prior = reps.select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pnrm"),
    )
    dup_reps = (
        reps.join(
            prior,
            (F.col("plabel") == F.col("label"))
            & (F.col("pid") < F.col("vec_id"))
            & (
                cosine_with_norms(
                    F.col("pv"), F.col("v"), F.col("pnrm"), F.col("nrm")
                )
                > SEM_TAU
            ),
        )
        .select(F.col("vec_id").alias("gmin"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return keyed.select("vec_id", "label", "gmin").join(
        dup_reps, "gmin", "left"
    ).select(
        "vec_id",
        "label",
        F.when(
            (F.col("vec_id") == F.col("gmin")) & F.col("__dup").isNull(), 1
        ).otherwise(0).cast("long").alias("keep"),
    )


def semantic_dedup_arrow(e: DataFrame, tau: float = SEM_TAU) -> DataFrame:
    """GEMM fast path for semantic_dedup, same contract: input
    (vec_id, label, v), output (vec_id, label, keep) with the identical
    lowest-id-wins pairwise rule. Each cluster arrives whole via
    ``groupBy(label).applyInPandas`` and is scored as blocked numpy
    matrix products (rows sorted by vec_id; a row is a duplicate iff any
    EARLIER row's cosine exceeds tau) — SCALE_CURVE.json measured the
    per-pair HOF fold at exponent 2.04 with a 325 s sf1 point; the same
    pair count through BLAS is minutes -> seconds. The law (sum of
    cluster^2) is unchanged — this kills the constant, growing the
    cluster count kills the law. Bit-parity with the oracle stays on the
    registered operator (sequential fold); tests assert flag-identical
    results at the fixture scale (ties at tau would need cosines within
    float-rounding of the threshold to diverge)."""
    import numpy as np
    import pandas as pd

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        n = len(pdf)
        keep = np.ones(n, dtype=np.int64)
        block = 1024
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            # cosines of rows [lo,hi) against ALL strictly-earlier rows
            sims = x[lo:hi] @ x[:hi].T  # (hi-lo, hi)
            for i in range(lo, hi):
                if i > 0 and np.any(sims[i - lo, :i] > tau):
                    keep[i] = 0
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "label": pdf["label"], "keep": keep}
        )

    return (
        e.select("vec_id", "label", "v")
        .groupBy("label")
        .applyInPandas(dedup_cluster, "vec_id long, label int, keep long")
    )


@register(
    "semantic_dedup_gemm",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT e.vec_id, e.label,
       CAST(NOT EXISTS (
         SELECT 1 FROM e p
         WHERE p.label = e.label AND p.vec_id < e.vec_id
           AND list_cosine_similarity(p.v, e.v) > {SEM_TAU}
       ) AS BIGINT) AS keep
FROM e
""",
    tags=["llm", "similarity", "dedup", "scale-path"],
)
def semantic_dedup_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of semantic_dedup: identical lowest-id-wins
    pairwise contract, scored as blocked BLAS matrix products per cluster
    (semantic_dedup_arrow) instead of the per-pair HOF fold —
    SCALE_CURVE.json measured the fold at exponent 2.04 with a 325 s sf1
    point; the GEMM path pushes the same pair count through vectorized
    numpy, collapsing the constant by ~50x (the sf1 decade is re-measured
    in SCALE_CURVE under this name). The sum(cluster^2) law itself is
    killed by growing the cluster count with the corpus (coarse-quantize
    with ivf_centroids at the target occupancy), which changes only the
    grouping key's cardinality, not this plan.

    Oracle note: cosines here come from normalized float64 GEMM rather
    than the sequential fold, so individual cosines differ from DuckDB's
    in the last ulps — but the OUTPUT is the keep flag, which flips only
    if some pair's cosine sits within float rounding of tau (measure-zero
    on real-valued embeddings; holds on every shipped fixture). The
    flag-level identity against the sequential registered form is also
    asserted by tests/test_llm_ops.py at fixture scale."""
    return semantic_dedup_arrow(_emb(spark, sf_dir))


# ------------------------------------------------------- centroid outliers


@register(
    "embedding_outliers",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cent AS ({_CENT_SQL}),
cvec AS (
  SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label
)
SELECT e.vec_id, e.label,
       list_cosine_similarity(e.v, cv.cv) AS centroid_cos,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY e.label
         ORDER BY list_cosine_similarity(e.v, cv.cv) ASC, e.vec_id
       ) AS BIGINT) AS outlier_rank
FROM e JOIN cvec cv ON cv.label = e.label
""",
    tags=["llm", "similarity", "quality"],
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier scoring — the SemDeDup-family prune
    signal: each vector's cosine to its cluster (label) centroid, plus its
    outlier rank within the cluster (rank 1 = farthest from the centroid).
    Low-cos vectors are either mislabeled, noise, or novel — exactly the
    rows a curation pipeline routes to review or drops; the complementary
    head (cos ~ 1) is the semantic-duplicate candidate set.

    Plan/scale: centroids via the same posexplode + (label, dim) DECIMAL
    hash aggregate as ivf_centroids (reduce side never sees raw vectors),
    re-assembled into |labels| arrays and BROADCAST back; scoring is one
    map-side cosine per row, and the rank is a window over each label
    partition. One explode-shuffle + one window sort — no all-pairs
    anything. Parity: centroid components are decimal-mean doubles
    (established), the cosine is the sequential fold both engines share,
    and the rank ordering carries the vec_id tiebreak."""
    e = _emb(spark, sf_dir)
    cvec = _cvec(e)
    scored = e.join(F.broadcast(cvec), "label").select(
        "vec_id",
        "label",
        cosine(F.col("v"), F.col("cv")).alias("centroid_cos"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("centroid_cos").asc(), F.col("vec_id").asc()
    )
    return scored.withColumn(
        "outlier_rank", F.row_number().over(w).cast("long")
    )


# ------------------------------------------------- product quantization

PQ_M = 4      # subspaces (the 64-dim vector splits into 4 x 16)
PQ_DSUB = EMB_DIM // PQ_M
PQ_K = 8      # codewords per subspace -> PQ_M * log2(PQ_K) = 12 bits/vector
_PQ_DOT_Q = 1e12  # per-subspace dot floor-quantum (exact DECIMAL summation)

#: Shared oracle fragment: the query set, its subvectors, and the ADC
#: lookup table (query x subspace x codeword inner products against the
#: trained codebook) — composed by every PQ search oracle.
_PQ_QLUT_SQL = f"""q AS (SELECT vec_id, label, v FROM e WHERE vec_id < {N_QUERIES}),
qsub AS (
  SELECT vec_id AS query_id, m,
         v[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS qv
  FROM q, range(0, {PQ_M}) t(m)
),
lut AS (
  SELECT qs.query_id, qs.m, c.code,
         list_inner_product(qs.qv, c.cv) AS dd
  FROM qsub qs JOIN cbv c ON c.m = qs.m
)"""

#: Shared oracle chain: subvectors -> seeded spherical assignment -> decimal
#: codebook means -> final assignment. Mirrors the DataFrame ops term for
#: term (same quantize constants as _CENT_SQL; list_cosine_similarity ==
#: the sequential zip_with fold, verified bit-identical).
_PQ_SQL = f"""
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
sub AS (
  SELECT vec_id, label, m,
         v[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS sv
  FROM e, range(0, {PQ_M}) t(m)
),
seeds AS (
  SELECT m, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {PQ_K}
),
a0 AS (
  SELECT vec_id, m, code, sv FROM (
    SELECT s.vec_id, s.m, sd.code, s.sv,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY list_cosine_similarity(s.sv, sd.cv) DESC, sd.code ASC
           ) AS rn
    FROM sub s JOIN seeds sd ON sd.m = s.m
  ) WHERE rn = 1
),
cb AS (
  SELECT m, code, i AS dim,
         CAST(SUM(CAST(FLOOR(sv[i] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS c
  FROM a0, range(1, {PQ_DSUB} + 1) t(i)
  GROUP BY m, code, i
),
cbv AS (SELECT m, code, list(c ORDER BY dim) AS cv FROM cb GROUP BY m, code),
a1 AS (
  SELECT vec_id, label, m, code FROM (
    SELECT s.vec_id, s.label, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY list_cosine_similarity(s.sv, c.cv) DESC, c.code ASC
           ) AS rn
    FROM sub s JOIN cbv c ON c.m = s.m
  ) WHERE rn = 1
)
"""


def _pq_sub(e: DataFrame) -> DataFrame:
    """(vec_id, label, m, sv): the PQ_M subvectors of every embedding —
    built in-row (slice over a literal subspace sequence), zero shuffle."""
    return e.select(
        "vec_id",
        "label",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.struct(
                    m.cast("int").alias("m"),
                    F.slice("v", m * PQ_DSUB + 1, PQ_DSUB).alias("sv"),
                ),
            )
        ).alias("s"),
    ).select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _pq_assign(sub: DataFrame, cb: DataFrame, keep_sv: bool) -> DataFrame:
    """Nearest-codeword assignment per (vector, subspace): broadcast the
    codebook (PQ_M x PQ_K rows), score by spherical (cosine) similarity,
    keep the arg-max with code as tiebreak. The window partitions on
    (vec_id, m) — bounded at PQ_K rows each, no skew surface."""
    scored = sub.join(F.broadcast(cb), "m").select(
        "vec_id",
        "label",
        "m",
        "code",
        *(["sv"] if keep_sv else []),
        cosine(F.col("sv"), F.col("cv")).alias("ccos"),
    )
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.col("ccos").desc(), F.col("code").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "ccos")
    )


def _pq_trained(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session-memoized (codebook, codes) — the trained PQ index. Four
    registered queries (codes, ADC top-k, recall, rerank) consume the same
    index; a real deployment trains/encodes ONCE and serves many searches,
    so the memo (localCheckpoint-backed, like dedup's cluster table)
    mirrors production rather than papering over cost."""
    from callio_etl_spark.llm_ops.dedup_ops import _memo_df

    e = _emb(spark, sf_dir)
    cb = _memo_df(spark, f"pq_cb:{sf_dir}", lambda: _pq_codebook(_pq_sub(e)))
    codes = _memo_df(
        spark,
        f"pq_codes:{sf_dir}",
        lambda: _pq_assign(_pq_sub(e), cb, keep_sv=False),
    )
    return cb, codes


def _pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC-scored coarse-cell candidates (query_id, neighbor_id, bucket,
    adc_dot) — the shared core of ann_topk_ivfpq and ann_topk_pq_rerank
    (one definition so the scoring expression, join shape, and
    quantization constant cannot drift between them).

    Plan: the lookup table is queries x PQ_M x PQ_K dots against the
    broadcast codebook; candidate code rows join the broadcast query set
    on the coarse label (equi-join, |bucket|-bounded) then the broadcast
    LUT on (query, m, code) — a map-side lookup, exactly how a PQ scanner
    reads its distance tables. The ONLY shuffle is the final
    (query, neighbor) aggregate over PQ_M-row groups; per-subspace dots
    are floor-quantized and summed as exact integer DECIMAL so the sum is
    order-free (hash aggregates don't promise accumulation order on
    either engine)."""
    e = _emb(spark, sf_dir)
    cb, codes = _pq_trained(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    qsub = _pq_sub(
        q.select(
            F.col("query_id").alias("vec_id"),
            F.col("qlabel").alias("label"),
            F.col("qv").alias("v"),
        )
    ).select(F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qv"))
    lut = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "code", dot(F.col("qv"), F.col("cv")).alias("dd")
    )
    return (
        codes.join(
            F.broadcast(q.select("query_id", "qlabel")),
            (F.col("label") == F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("bucket"),
        )
        .agg(
            (
                F.sum(
                    F.floor(F.col("dd") * F.lit(_PQ_DOT_Q)).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(_PQ_DOT_Q)
            ).alias("adc_dot")
        )
    )


def _pq_codebook(sub: DataFrame) -> DataFrame:
    """One spherical k-means iteration from deterministic seeds (the
    subvectors of vec_id 0..PQ_K-1): assign -> decimal-mean update.
    Returns the codebook (m, code, cv). Every stage is a broadcast join
    or a (m, code, dim) hash aggregate — the reduce side never sees more
    than PQ_M * PQ_K * PQ_DSUB rows regardless of corpus size."""
    seeds = sub.where(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("cv")
    )
    a0 = _pq_assign(sub, seeds, keep_sv=True)
    return (
        a0.select("m", "code", F.posexplode("sv").alias("pos", "val"))
        .groupBy("m", "code", "pos")
        .agg(_dmean(F.col("val")).alias("c"))
        .groupBy("m", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c"),
            ).alias("cv")
        )
    )


@register(
    "pq_codes",
    oracle=f"""
WITH {_PQ_SQL}
SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code
FROM a1
""",
    tags=["llm", "similarity"],
)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jegou et al., "Product Quantization
    for Nearest Neighbor Search"): each {EMB_DIM}-dim vector becomes
    {PQ_M} codes of log2({PQ_K}) bits — the 20-100x compression that lets
    a 100 TB embedding corpus serve ANN from memory. Codebooks come from
    one spherical k-means step off deterministic seeds (production loops
    the same assign/update pair; each extra iteration is one more
    broadcast join + tiny aggregate, no new plan shape).

    Shape: subvectors are in-row slices; assignment is a broadcast join
    against the {PQ_M}x{PQ_K}-row codebook with a bounded (vec_id, m)
    window; the codebook update is a (m, code, dim) decimal hash
    aggregate ({PQ_M * PQ_K * PQ_DSUB} output rows, corpus-size-free) —
    the exact ivf_centroids parity recipe."""
    _cb, codes = _pq_trained(spark, sf_dir)
    return codes.select(
        "vec_id", F.col("m").cast("long").alias("m"), F.col("code").cast("long").alias("code")
    )


@register(
    "ann_topk_ivfpq",
    oracle=f"""
WITH {_PQ_SQL},
{_PQ_QLUT_SQL},
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, a.label AS bucket,
         CAST(SUM(CAST(FLOOR(l.dd * {_PQ_DOT_Q}) AS DECIMAL(38,0))) AS DOUBLE)
           / {_PQ_DOT_Q} AS adc_dot
  FROM q
  JOIN a1 a ON a.label = q.label AND a.vec_id <> q.vec_id
  JOIN lut l ON l.query_id = q.vec_id AND l.m = a.m AND l.code = a.code
  GROUP BY 1, 2, 3
)
SELECT query_id, neighbor_id, bucket, adc_dot,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY adc_dot DESC, neighbor_id ASC)
QUALIFY ROW_NUMBER() OVER w <= {TOP_K}
""",
    tags=["llm", "similarity"],
)
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k — the canonical web-scale ANN serving shape (FAISS
    IVFx,PQy): coarse cells bound the candidate set (the IVF half), and
    candidates are ranked by ASYMMETRIC DISTANCE (ADC): the full-precision
    query scores each candidate as the sum over subspaces of
    dot(query_sub, codeword[candidate's code]) — candidates are never
    decompressed.

    Shape: the ADC lookup table is queries x {PQ_M} x {PQ_K} dots against
    the broadcast codebook (tiny); candidate code rows join the broadcast
    query set on the coarse label (equi-join, |bucket|-bounded) then the
    broadcast LUT on (query, m, code) — a map-side lookup, exactly how a
    PQ scanner reads its distance tables. The ONLY shuffle is the final
    (query, neighbor) aggregate over {PQ_M}-row groups. Per-subspace dots
    are floor-quantized and summed as exact integer DECIMAL so the
    {PQ_M}-term sum is order-free (hash aggregates don't promise an
    accumulation order on either engine)."""
    scored = _pq_adc(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
    )


@register(
    "ann_recall_pq",
    oracle=f"""
WITH {_PQ_SQL},
{_PQ_QLUT_SQL},
pq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY adc_dot DESC, neighbor_id ASC) AS rnk
    FROM (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(SUM(CAST(FLOOR(l.dd * {_PQ_DOT_Q}) AS DECIMAL(38,0)))
               AS DOUBLE) / {_PQ_DOT_Q} AS adc_dot
      FROM q
      JOIN a1 a ON a.label = q.label AND a.vec_id <> q.vec_id
      JOIN lut l ON l.query_id = q.vec_id AND l.m = a.m AND l.code = a.code
      GROUP BY 1, 2
    )
  ) WHERE rnk <= {TOP_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
    FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K}
),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
    FROM q JOIN e c ON c.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K}
)
SELECT b.query_id,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(x.neighbor_id) AS BIGINT) AS hits_exact_ivf,
       CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits_pq,
       CAST(COUNT(x.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_exact_ivf,
       CAST(COUNT(p.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_pq
FROM brute b
LEFT JOIN exact x
  ON x.query_id = b.query_id AND x.neighbor_id = b.neighbor_id
LEFT JOIN pq p
  ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
    tags=["llm", "similarity", "metric"],
)
def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF-PQ against exact brute force, with same-bucket
    EXACT-cosine search (ann_topk_ivf) alongside — separating the two
    losses an IVF-PQ deployment tunes independently: coarse-cell pruning
    (recall_exact_ivf caps what any in-bucket ranking can reach) and
    quantization error (recall_pq <= recall_exact_ivf; closing that gap
    means more codewords/subspaces or an exact re-rank of the PQ top-C).

    Plan: three top-k pipelines over the same broadcast query set; the
    recall joins are queries x k rows — driver-free, corpus-size-free."""
    brute = ann_topk_brute(spark, sf_dir).select("query_id", "neighbor_id")
    exact = ann_topk_ivf(spark, sf_dir).select(
        F.col("query_id").alias("xq"), F.col("neighbor_id").alias("xnb")
    )
    pq = ann_topk_ivfpq(spark, sf_dir).select(
        F.col("query_id").alias("pq_q"), F.col("neighbor_id").alias("pnb")
    )
    return (
        brute.join(
            exact,
            (F.col("query_id") == F.col("xq")) & (F.col("neighbor_id") == F.col("xnb")),
            "left",
        )
        .join(
            pq,
            (F.col("query_id") == F.col("pq_q")) & (F.col("neighbor_id") == F.col("pnb")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(TOP_K).cast("long").alias("k"),
            F.count("xnb").cast("long").alias("hits_exact_ivf"),
            F.count("pnb").cast("long").alias("hits_pq"),
            (F.count("xnb").cast("double") / TOP_K).alias("recall_exact_ivf"),
            (F.count("pnb").cast("double") / TOP_K).alias("recall_pq"),
        )
    )


PQ_SHORTLIST = 20  # ADC candidates per query fed to the exact re-rank


@register(
    "ann_topk_pq_rerank",
    oracle=f"""
WITH {_PQ_SQL},
{_PQ_QLUT_SQL},
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY adc_dot DESC, neighbor_id ASC) AS rnk
    FROM (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(SUM(CAST(FLOOR(l.dd * {_PQ_DOT_Q}) AS DECIMAL(38,0)))
               AS DOUBLE) / {_PQ_DOT_Q} AS adc_dot
      FROM q
      JOIN a1 a ON a.label = q.label AND a.vec_id <> q.vec_id
      JOIN lut l ON l.query_id = q.vec_id AND l.m = a.m AND l.code = a.code
      GROUP BY 1, 2
    )
  ) WHERE rnk <= {PQ_SHORTLIST}
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank
FROM (
  SELECT s.query_id, s.neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cosine
  FROM shortlist s
  JOIN q ON q.vec_id = s.query_id
  JOIN e c ON c.vec_id = s.neighbor_id
)
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY ROW_NUMBER() OVER w <= {TOP_K}
""",
    tags=["llm", "similarity"],
)
def ann_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving — the production IVF-PQ recipe end to end:
    ADC ranks the coarse-cell candidates from compressed codes (cheap,
    approximate), the top-{PQ_SHORTLIST} shortlist is re-scored with
    EXACT cosine against the full-precision vectors, and the final top-k
    comes from the re-rank. Quantization error only costs recall when a
    true neighbor falls outside the shortlist — widening the shortlist
    (not the codebook) is the cheap recall dial, which is why FAISS
    deployments re-rank the top 10-100x k.

    Shape: the shortlist stage is ann_topk_ivfpq's plan verbatim; the
    re-rank touches {PQ_SHORTLIST} full vectors per query — the ONLY
    stage that reads raw vectors, and it reads queries x {PQ_SHORTLIST}
    of them (row-bounded, corpus-size-free). The re-rank vector fetch is
    an equi-join on vec_id against the (tiny, broadcast) shortlist — at
    100 TB that join prunes to one bucketed lookup per candidate."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    adc = _pq_adc(spark, sf_dir)
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc_dot").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        adc.withColumn("rnk", F.row_number().over(ws))
        .where(F.col("rnk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    rerank = (
        F.broadcast(shortlist)
        .join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .join(e, F.col("vec_id") == F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    return _topk_window(rerank)


# ------------------------------------------------- covariance / whitening

COV_DIMS = 16  # leading sub-block demonstrated (one PQ subspace); see docstring


#: Shared oracle fragment: the upper-triangle covariance sub-block as a
#: CTE chain ending in cov_ut(i, j, cov) — composed by the covariance
#: query and the PCA power-iteration query.
_COV_SQL = f"""
e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
mu AS (
  SELECT i AS dim,
         CAST(SUM(CAST(FLOOR(v[i] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS mu
  FROM e, range(1, {COV_DIMS} + 1) t(i)
  GROUP BY i
),
xp AS (
  SELECT i, j,
         CAST(SUM(CAST(FLOOR(v[i] * v[j] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS exy
  FROM e, range(1, {COV_DIMS} + 1) t(i), range(1, {COV_DIMS} + 1) u(j)
  WHERE j >= i
  GROUP BY i, j
),
cov_ut AS (
  SELECT CAST(xp.i AS BIGINT) AS i, CAST(xp.j AS BIGINT) AS j,
         xp.exy - a.mu * b.mu AS cov
  FROM xp JOIN mu a ON a.dim = xp.i JOIN mu b ON b.dim = xp.j
)"""


@register(
    "embedding_covariance",
    oracle=f"""
WITH {_COV_SQL}
SELECT i, j, cov FROM cov_ut
""",
    tags=["llm", "similarity", "metric"],
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance sub-block — the statistic under PCA whitening,
    OPQ rotation, and Mahalanobis re-ranking of an embedding corpus:
    cov(i,j) = E[x_i x_j] - mu_i mu_j over the leading {COV_DIMS} dims
    (one PQ subspace; upper triangle, {COV_DIMS * (COV_DIMS + 1) // 2}
    output rows).

    Shape: the cross-moment explode emits dims^2/2 products PER ROW
    map-side, but the hash aggregate combines partially, so the shuffle
    and reduce see exactly {COV_DIMS * (COV_DIMS + 1) // 2} + {COV_DIMS}
    rows no matter the corpus size — a covariance matrix is the textbook
    map-combinable statistic. The in-plan explode prices the same FLOPs
    as the X^T X GEMM; at full production dims you'd compute per-batch
    X^T X with numpy under mapInPandas and merge the {COV_DIMS}^2
    partials with this exact decimal-sum aggregate (the
    semantic_dedup_arrow split: Arrow for arithmetic, exact DECIMAL for
    the merge).

    Parity: products of doubles are exactly rounded (engine-identical);
    each product is floor-quantized at 1e-10 and summed as exact integer
    DECIMAL (the ivf_centroids recipe), and the final cov is the same
    two IEEE ops on identical doubles in both engines."""
    e = load_table(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    mu = (
        e.select(
            F.posexplode(F.slice("v", 1, COV_DIMS)).alias("pos", "x")
        )
        .groupBy((F.col("pos") + 1).alias("dim"))
        .agg(_dmean(F.col("x")).alias("mu"))
    )
    pairs = e.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(COV_DIMS)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(COV_DIMS)),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                F.element_at("v", i) * F.element_at("v", j)
                            ).alias("xy"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.i").alias("i"), F.col("p.j").alias("j"), F.col("p.xy").alias("xy"))
    xp = pairs.groupBy("i", "j").agg(_dmean(F.col("xy")).alias("exy"))
    return (
        xp.join(F.broadcast(mu.select(F.col("dim").alias("i"), F.col("mu").alias("mu_i"))), "i")
        .join(F.broadcast(mu.select(F.col("dim").alias("j"), F.col("mu").alias("mu_j"))), "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            (F.col("exy") - F.col("mu_i") * F.col("mu_j")).alias("cov"),
        )
    )


@register(
    "embedding_standardize",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
mu AS (
  SELECT i AS dim,
         CAST(SUM(CAST(FLOOR(v[i] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS mu,
         CAST(SUM(CAST(FLOOR(v[i] * v[i] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS exx
  FROM e, range(1, {COV_DIMS} + 1) t(i)
  GROUP BY i
)
SELECT e.vec_id, CAST(t.i AS BIGINT) AS dim,
       (e.v[i] - m.mu) / SQRT(m.exx - m.mu * m.mu) AS z
FROM e, range(1, {COV_DIMS} + 1) t(i)
JOIN mu m ON m.dim = t.i
""",
    tags=["llm", "similarity"],
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (diagonal whitening) of the leading
    {COV_DIMS} dims: z = (x - mu) / sigma with mu/var from the same
    decimal-exact moment aggregate as embedding_covariance — the cheap
    preconditioning step before PQ/OPQ training or Mahalanobis-ish
    re-ranking when the full rotation is overkill.

    Shape: one (dim) moment aggregate ({COV_DIMS} rows, map-combined,
    corpus-size-free reduce) broadcast back onto a map-side projection —
    the corpus is touched twice, shuffled never. Parity: mu/var come from
    floor-quantized integer-DECIMAL sums; subtraction, division, and SQRT
    are all exactly-rounded IEEE ops, so z is bit-identical across
    engines with no further quantization."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    mu = (
        e.select(F.posexplode(F.slice("v", 1, COV_DIMS)).alias("pos", "x"))
        .groupBy((F.col("pos") + 1).alias("dim"))
        .agg(_dmean(F.col("x")).alias("mu"), _dmean(F.col("x") * F.col("x")).alias("exx"))
    )
    ex = e.select(
        "vec_id", F.posexplode(F.slice("v", 1, COV_DIMS)).alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "x")
    return ex.join(F.broadcast(mu), "dim").select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        (
            (F.col("x") - F.col("mu"))
            / F.sqrt(F.col("exx") - F.col("mu") * F.col("mu"))
        ).alias("z"),
    )


@register(
    "ann_recall_pq_rerank",
    oracle=f"""
WITH {_PQ_SQL},
{_PQ_QLUT_SQL},
adc AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(SUM(CAST(FLOOR(l.dd * {_PQ_DOT_Q}) AS DECIMAL(38,0)))
           AS DOUBLE) / {_PQ_DOT_Q} AS adc_dot
  FROM q
  JOIN a1 a ON a.label = q.label AND a.vec_id <> q.vec_id
  JOIN lut l ON l.query_id = q.vec_id AND l.m = a.m AND l.code = a.code
  GROUP BY 1, 2
),
pq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY adc_dot DESC, neighbor_id ASC) AS rnk
    FROM adc
  ) WHERE rnk <= {TOP_K}
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY adc_dot DESC, neighbor_id ASC) AS rnk
    FROM adc
  ) WHERE rnk <= {PQ_SHORTLIST}
),
rr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY s.query_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                      s.neighbor_id ASC) AS rnk
    FROM short s
    JOIN q ON q.vec_id = s.query_id
    JOIN e c ON c.vec_id = s.neighbor_id
  ) WHERE rnk <= {TOP_K}
),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rnk
    FROM q JOIN e c ON c.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K}
)
SELECT b.query_id,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits_pq,
       CAST(COUNT(r.neighbor_id) AS BIGINT) AS hits_rerank,
       CAST(COUNT(p.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_pq,
       CAST(COUNT(r.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_rerank
FROM brute b
LEFT JOIN pq p
  ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
LEFT JOIN rr r
  ON r.query_id = b.query_id AND r.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
    tags=["llm", "similarity", "metric"],
)
def ann_recall_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall dial of two-stage serving, measured: recall@k of the raw
    ADC top-k vs the shortlist-then-exact-rerank top-k, both against
    brute force. Per query, hits_rerank >= hits_pq whenever the true
    neighbors the ADC misranked were still inside the top-{PQ_SHORTLIST}
    shortlist — the number a deployment watches when tuning shortlist
    width (it converges to the coarse-cell ceiling measured by
    ann_recall_pq's recall_exact_ivf as the shortlist widens).

    Plan: both rankings derive from the SAME _pq_adc frame (one candidate
    scan); the recall joins are queries x k rows — corpus-size-free."""
    brute = ann_topk_brute(spark, sf_dir).select("query_id", "neighbor_id")
    pq = ann_topk_ivfpq(spark, sf_dir).select(
        F.col("query_id").alias("pq_q"), F.col("neighbor_id").alias("pnb")
    )
    rr = ann_topk_pq_rerank(spark, sf_dir).select(
        F.col("query_id").alias("rr_q"), F.col("neighbor_id").alias("rnb")
    )
    return (
        brute.join(
            pq,
            (F.col("query_id") == F.col("pq_q")) & (F.col("neighbor_id") == F.col("pnb")),
            "left",
        )
        .join(
            rr,
            (F.col("query_id") == F.col("rr_q")) & (F.col("neighbor_id") == F.col("rnb")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(TOP_K).cast("long").alias("k"),
            F.count("pnb").cast("long").alias("hits_pq"),
            F.count("rnb").cast("long").alias("hits_rerank"),
            (F.count("pnb").cast("double") / TOP_K).alias("recall_pq"),
            (F.count("rnb").cast("double") / TOP_K).alias("recall_rerank"),
        )
    )


PCA_ITERS = 2    # power-iteration steps (each is one 16x16 matvec)
_PCA_Q = 1e12    # matvec / projection product quantum
_PCA_NQ = 1e18   # squared-norm product quantum (m^2 is ~1e-6-scale)

#: One power-iteration round as SQL: v_in(dim, vv) -> v_out(dim, vv).
_PCA_STEP_SQL = """
m{k} AS (
  SELECT c.i AS dim,
         CAST(SUM(CAST(FLOOR(c.cov * v.vv * {q}) AS DECIMAL(38,0)))
           AS DOUBLE) / {q} AS m
  FROM cfull c JOIN v{prev} v ON v.dim = c.j
  GROUP BY c.i
),
n{k} AS (
  SELECT SQRT(CAST(SUM(CAST(FLOOR(m * m * {nq}) AS DECIMAL(38,0)))
    AS DOUBLE) / {nq}) AS n
  FROM m{k}
),
v{k} AS (SELECT dim, m / n AS vv FROM m{k} CROSS JOIN n{k})"""


@register(
    "embedding_pca_project",
    oracle=f"""
WITH {_COV_SQL},
cfull AS (
  SELECT i, j, cov FROM cov_ut
  UNION ALL
  SELECT j AS i, i AS j, cov FROM cov_ut WHERE i < j
),
v0 AS (
  SELECT CAST(i AS BIGINT) AS dim,
         CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS vv
  FROM range(1, {COV_DIMS} + 1) t(i)
),{",".join(_PCA_STEP_SQL.format(k=k, prev=k - 1, q=_PCA_Q, nq=_PCA_NQ) for k in range(1, PCA_ITERS + 1))},
ee AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT ee.vec_id,
       CAST(SUM(CAST(FLOOR(ee.v[a.dim] * a.vv * {_PCA_Q}) AS DECIMAL(38,0)))
         AS DOUBLE) / {_PCA_Q} AS pc1
FROM ee CROSS JOIN v{PCA_ITERS} a
GROUP BY ee.vec_id
""",
    tags=["llm", "similarity"],
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal-component projection with the PCA training INSIDE the
    plan: the covariance sub-block (embedding_covariance's aggregate)
    feeds {PCA_ITERS} power-iteration rounds (matvec + normalize over the
    {COV_DIMS}x{COV_DIMS} broadcast matrix — the dominant-eigenvector
    recursion), and every vector is projected onto the resulting axis —
    the dimensionality-reduction / whitening-rotation step ahead of OPQ
    or visualization.

    Shape (r14): the ONLY corpus-scale stage left is the covariance
    aggregate (reduce side sees dims^2 rows, map-combined), collected
    ONCE; the entire power iteration is {COV_DIMS}x{COV_DIMS} arithmetic
    on a driver scalar (the norm step already was — the matvec joins
    were Spark jobs over a 256-row frame, pure fixed job-count overhead:
    checkpoint job + one collect job per round, the constant VERDICT r13
    item 4 suspected). The final projection is an IN-ROW fold against
    the literal axis — the previous posexplode x{COV_DIMS} + broadcast
    join + vec_id re-aggregate (one corpus-sized Exchange) is gone; the
    plan is scan -> project, zero joins, zero exchanges past the scan.

    Parity: matvec products, squared norms, and projection products are
    floor-quantized and summed as exact integers — Python ints ARE the
    DECIMAL(38,0) sums (both exact, order-free), float(int) is the same
    correctly-rounded conversion as the decimal->double cast, and
    multiply/divide/sqrt on doubles are identical IEEE ops driver- or
    executor-side — bit-identical across all three computations at
    every iteration, so the eigenvector sign/values cannot drift. The
    in-row projection fold sums the same floor-quantized longs the
    previous per-(vec,dim)-row SUM did (order-free), with SQL SUM null
    semantics preserved (null terms skipped, all-null -> NULL)."""
    # ONE corpus-scale action: the dims^2/2-row covariance collected as a
    # driver scalar (in-plan-k-means/extrema family)
    C: dict[tuple[int, int], float] = {}
    for r in embedding_covariance(spark, sf_dir).collect():
        C[(r["i"], r["j"])] = r["cov"]
        if r["i"] < r["j"]:
            C[(r["j"], r["i"])] = r["cov"]
    vv = [1.0 if d == 1 else 0.0 for d in range(1, COV_DIMS + 1)]
    for _ in range(PCA_ITERS):
        # matvec, the oracle's m{k} CTE op-for-op: floor(cov*vv*Q) summed
        # as exact ints (== the DECIMAL(38,0) sum), int->double, /Q
        m = []
        for i in range(1, COV_DIMS + 1):
            qs = 0
            for j in range(1, COV_DIMS + 1):
                c = C.get((i, j))
                if c is None:  # SUM skips absent/null entries
                    continue
                qs += int(math.floor(c * vv[j - 1] * _PCA_Q))
            m.append(float(qs) / _PCA_Q)
        qsum = sum(int(math.floor(x * x * _PCA_NQ)) for x in m)
        if qsum == 0:
            raise ValueError(
                "embedding_pca_project: power iteration collapsed — zero "
                "covariance along the current iterate (a constant start "
                "dimension); start from a different unit vector"
            )
        nval = math.sqrt(float(qsum) / _PCA_NQ)
        vv = [x / nval for x in m]
    axis = F.array(*[F.lit(x) for x in vv])
    ee = load_table(spark, sf_dir, "embeddings")
    # per-term floor-quantized longs, folded in-row; SQL SUM semantics:
    # null terms are skipped, an all-null dim set yields NULL
    terms = F.zip_with(
        F.slice(F.transform("embedding", lambda x: x.cast("double")), 1, COV_DIMS),
        axis,
        lambda x, a: F.floor(x * a * F.lit(_PCA_Q)).cast("long"),
    )
    qsum_col = F.aggregate(
        terms,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.coalesce(t, F.lit(0).cast("long")),
    )
    pc1 = F.when(
        F.exists(terms, lambda t: t.isNotNull()),
        qsum_col.cast("double") / F.lit(_PCA_Q),
    )
    return ee.select("vec_id", pc1.alias("pc1"))


# ------------------------------------------------ iterative IVF training

IVF_ROUNDS = 2  # measured k-means rounds (assign -> update per round)

#: One training round as SQL: centroids from assignment a{prev} ->
#: reassignment a{k} by best centroid cosine (label asc tiebreak).
_IVF_ROUND_SQL = """
cent{k} AS (
  SELECT label, i AS dim,
         CAST(SUM(CAST(FLOOR(v[i] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS c
  FROM a{prev}, range(1, {dims} + 1) t(i)
  GROUP BY label, i
),
cvec{k} AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent{k} GROUP BY label),
a{k} AS (
  SELECT vec_id, v, label, best_cos FROM (
    SELECT x.vec_id, x.v, c.label,
           list_cosine_similarity(x.v, c.cv) AS best_cos,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY list_cosine_similarity(x.v, c.cv) DESC, c.label ASC
           ) AS rn
    FROM a{prev} x CROSS JOIN cvec{k} c
  ) WHERE rn = 1
)"""


@register(
    "ivf_train_rounds",
    oracle=f"""
WITH a0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
),{",".join(_IVF_ROUND_SQL.format(k=k, prev=k - 1, dims=EMB_DIM) for k in range(1, IVF_ROUNDS + 1))}
SELECT * FROM (
  {" UNION ALL ".join(
      f'''SELECT CAST({k} AS BIGINT) AS round,
         CAST(SUM(CASE WHEN n.label <> p.label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_reassigned,
         CAST(SUM(CAST(FLOOR(n.best_cos * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS mean_best_cos
      FROM a{k} n JOIN a{k - 1} p ON p.vec_id = n.vec_id'''
      for k in range(1, IVF_ROUNDS + 1)
  )}
)
""",
    tags=["llm", "similarity", "metric", "iterative"],
)
def ivf_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer training, MEASURED per round: {IVF_ROUNDS}
    full k-means rounds (decimal-mean centroid update -> spherical
    reassignment) starting from the shipped label assignment, reporting
    per round how many vectors moved cells and the mean best-centroid
    cosine — the convergence curve an IVF build watches to decide when to
    stop (ivf_centroids is one update step; this is the loop around it).

    Shape per round (r14): the centroid update is the (label, dim)
    decimal hash aggregate (|cells| x dim reduce rows, corpus-size-free);
    reassignment is the assign_to_cells IN-ROW broadcast argmax — the
    |cells| centroids pack into ONE broadcast row and each vector
    argmaxes over it in a projection. The r13 shape instead crossJoined
    every vector against the broadcast centroid table (|cells|x row
    blow-up) and ranked with a ROW_NUMBER window PARTITION BY vec_id —
    a corpus-sized Exchange + sort PER ROUND that the fold makes
    unnecessary (plans/r14/ivf_train_rounds: 2 window Exchanges -> 0;
    this is also the plan ann's delta-assign path already runs, so
    training and serving now share one assignment shape). Ties break
    identically: the fold keeps the FIRST max over label-ascending
    cells = ROW_NUMBER(bc DESC, label ASC) = 1. Each round's assignment
    is collect-free and localCheckpointed so round k+1's lineage starts
    from materialized cells rather than re-running every earlier round
    (the PCA-iteration lesson; here the frame is corpus-sized, exactly
    what a real trainer persists between passes). Parity: centroid means
    and the fit statistic use the floor-quantized integer-DECIMAL
    recipe; per-pair cosine is the verified bit-identical sequential
    fold with both norm folds hoisted (cosine_with_norms — same IEEE op
    sequence), evaluated ONCE per (vector, centroid) via a transform
    instead of twice inside the argmax condition."""
    a_prev = _emb(spark, sf_dir).localCheckpoint(eager=True)
    out_rows = []
    for k in range(1, IVF_ROUNDS + 1):
        cvec = _cvec(a_prev)
        packed = cvec.select(
            "label", "cv", norm(F.col("cv")).alias("cnrm")
        ).agg(
            F.array_sort(
                F.collect_list(F.struct("label", "cv", "cnrm"))
            ).alias("cells")
        )
        scored_arr = F.transform(
            F.col("cells"),
            lambda c: F.struct(
                cosine_with_norms(
                    F.col("v"), c["cv"], F.col("vnrm"), c["cnrm"]
                ).alias("bc"),
                c["label"].alias("new_label"),
            ),
        )
        best = F.aggregate(
            scored_arr,
            F.struct(
                F.lit(-2.0).alias("bc"),
                F.lit(None).cast("int").alias("new_label"),
            ),
            lambda acc, s: F.when(s["bc"] > acc["bc"], s).otherwise(acc),
        )
        a_next = (
            a_prev.select(
                "vec_id",
                "v",
                F.col("label").alias("old_label"),
                norm(F.col("v")).alias("vnrm"),
            )
            .crossJoin(F.broadcast(packed))
            .withColumn("__best", best)
            .select(
                "vec_id",
                "v",
                F.col("__best.new_label").alias("label"),
                F.col("old_label"),
                F.col("__best.bc").alias("best_cos"),
            )
            .localCheckpoint(eager=True)
        )
        stats = a_next.agg(
            F.lit(k).cast("long").alias("round"),
            F.sum(
                F.when(F.col("label") != F.col("old_label"), 1).otherwise(0)
            ).cast("long").alias("n_reassigned"),
            (
                F.sum(
                    F.floor(F.col("best_cos") * F.lit(1e10)).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1e10)
                / F.count("*")
            ).alias("mean_best_cos"),
        )
        out_rows.append(stats)
        a_prev = a_next.select("vec_id", "v", "label")
    out = out_rows[0]
    for extra in out_rows[1:]:
        out = out.unionByName(extra)
    return out


# ---------------------------------------------- streaming index maintenance

#: vec_id % VEC_DELTA_MOD == 0 plays the newly-arrived vector batch — the
#: same fixture convention as dedup_ops.DELTA_MOD for documents.
VEC_DELTA_MOD = 10


def assign_to_cells(vecs: DataFrame, cells: DataFrame) -> DataFrame:
    """Nearest-centroid cell assignment as a PURE PROJECTION — the delta-
    ingestion half of IVF index maintenance: ``cells`` (label, cv) is
    packed into ONE broadcast row (label-sorted array of structs) and each
    vector argmaxes over it in-row, so assignment is map-side with no
    explode, no window, and no shuffle — which also makes it STREAM-LEGAL
    (streaming.incremental.ivf_assign_stream wraps exactly this).
    Ties break to the lowest label (strict > in the fold, labels iterated
    ascending) — the same order ROW_NUMBER(cos DESC, label ASC) picks.

    Input: (vec_id, label, v). Output: (vec_id, label, assigned_cell,
    centroid_cos, moved) where moved flags vectors whose nearest centroid
    is no longer their stored cell — summed downstream, that is the index
    STALENESS metric that triggers a centroid refresh (one _cvec pass over
    index + delta, the ivf_train_rounds update step)."""
    packed = cells.agg(
        F.array_sort(F.collect_list(F.struct("label", "cv"))).alias("cells")
    )
    best = F.aggregate(
        F.col("cells"),
        F.struct(
            F.lit(None).cast("int").alias("cell"), F.lit(-2.0).alias("cos")
        ),
        lambda acc, c: F.when(
            cosine(F.col("v"), c["cv"]) > acc["cos"],
            F.struct(
                c["label"].alias("cell"),
                cosine(F.col("v"), c["cv"]).alias("cos"),
            ),
        ).otherwise(acc),
    )
    return (
        vecs.crossJoin(F.broadcast(packed))
        .withColumn("__best", best)
        .select(
            "vec_id",
            "label",
            F.col("__best.cell").alias("assigned_cell"),
            F.col("__best.cos").alias("centroid_cos"),
            (F.col("__best.cell") != F.col("label")).cast("long").alias("moved"),
        )
    )


@register(
    "ivf_delta_assign",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
i AS (SELECT * FROM e WHERE vec_id % {VEC_DELTA_MOD} <> 0),
cent AS (
  SELECT label, CAST(ix AS BIGINT) AS dim,
         CAST(SUM(CAST(FLOOR(v[ix] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS c
  FROM i, range(1, {EMB_DIM} + 1) t(ix)
  GROUP BY label, ix
),
cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
scored AS (
  SELECT d.vec_id, d.label, cv.label AS assigned_cell,
         list_cosine_similarity(d.v, cv.cv) AS centroid_cos,
         ROW_NUMBER() OVER (PARTITION BY d.vec_id
           ORDER BY list_cosine_similarity(d.v, cv.cv) DESC, cv.label ASC
         ) AS rn
  FROM e d CROSS JOIN cvec cv
  WHERE d.vec_id % {VEC_DELTA_MOD} = 0
)
SELECT vec_id, label, assigned_cell, centroid_cos,
       CAST(assigned_cell <> label AS BIGINT) AS moved
FROM scored WHERE rn = 1
""",
    tags=["llm", "similarity", "incremental", "streaming"],
)
def ivf_delta_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the vector-side twin of
    minhash_incremental_planned: a newly arrived vector batch (vec_id %
    {VEC_DELTA_MOD} == 0 plays the delta) is assigned to the EXISTING
    index's cells (centroids trained on the already-indexed vectors only
    — no retrain per tick), emitting per-vector (assigned_cell,
    centroid_cos, moved). SUM(moved)/COUNT(*) is the staleness metric a
    deployment watches; past a threshold it refreshes centroids with one
    ivf_centroids pass over index+delta and reassigns — exactly how FAISS
    services roll their coarse quantizer.

    Plan/scale: centroids are a (label, dim) decimal-mean aggregate over
    the index (reduce side never sees raw vectors), re-assembled to
    |cells| rows and BROADCAST packed into a single row; assignment is a
    per-row in-plan argmax fold — the per-tick cost is |delta| x |cells|
    map-side flops with zero shuffles of the delta. The same helper
    (assign_to_cells) runs unchanged under Structured Streaming
    (ivf_assign_stream), where the two-tick parity test proves
    tick(d1)+tick(d2) == batch(d1+d2)."""
    e = _emb(spark, sf_dir)
    idx = e.where(F.col("vec_id") % VEC_DELTA_MOD != 0)
    delta = e.where(F.col("vec_id") % VEC_DELTA_MOD == 0)
    return assign_to_cells(delta, _cvec(idx))


def _ckpt_once(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` unless the frame already IS a
    checkpoint: a LogicalRDD plan over an RDD that has been checkpointed
    (``spark.createDataFrame(rdd)`` and a lazy checkpoint also plan as a
    LogicalRDD, but recompute their lineage on every use). The service
    roundtrips pass the same quantizer frame into several
    maintain/rebuild calls; each call used to re-checkpoint it (~0.2 s
    job apiece, r15 profile: 22 localCheckpoint jobs in one
    rebuild_vector_index pass). One cheap plan probe replaces the
    redundant jobs; any probe failure falls back to checkpointing
    (always safe)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if (
            plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.rdd().isCheckpointed()
        ):
            return df
    except Exception:
        pass
    return df.localCheckpoint(eager=True)


def _quantizer_fp(cells: DataFrame) -> str:
    """Content fingerprint of a quantizer (md5 over the sorted
    (label, centroid) rows) — the identity the index pins as a table
    property so ticks and rebuilds can prove which cells their postings
    were assigned under."""
    import hashlib as _hashlib
    import json as _json

    return _hashlib.md5(
        _json.dumps(
            sorted(
                (int(r["label"]), [float(x) for x in r["cv"]])
                for r in cells.collect()
            )
        ).encode("utf-8")
    ).hexdigest()


#: The vector index's pins, on its postings table: the fingerprint of
#: the quantizer its postings were assigned under.
VECTOR_PINS = ("ivf.quantizer_md5",)


def _vector_plan(
    spark: SparkSession, index_path: str, fwd_path: str, cells: DataFrame
):
    """The vector index's ``snapshots._index_tick`` plan: two tables.
    The postings, partitioned by ``assigned_cell``, touch the delta's
    old cells (looked up in the forward map's touched buckets) and its
    new cells; the forward map, partitioned by ``vec_id %
    INDEX_BUCKETS``, touches the delta's buckets. The quantizer is
    checkpointed and fingerprinted here, so a tick that writes no
    posting starts no job for it; a fingerprint other than the pinned
    one is refused before any write. A first build or rebuild pins it."""

    def plan(changed, changed_ids, buckets, state):
        q = _ckpt_once(cells)
        fp = _quantizer_fp(q)
        if state is not None and state[0]["ivf.quantizer_md5"] != fp:
            raise ValueError(
                f"quantizer drift: index {index_path} was built against "
                f"quantizer {state[0]['ivf.quantizer_md5']}, tick passed "
                f"{fp}; a centroid refresh is an explicit re-index, never "
                f"a silent mix of cells"
            )
        fresh = assign_to_cells(
            changed.where(F.col("_change") != "delete").select(
                "vec_id",
                F.lit(-1).cast("int").alias("label"),
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            ),
            q,
        ).select("vec_id", "assigned_cell", "centroid_cos").localCheckpoint(
            eager=True
        )
        touched = None
        if state is not None:
            # old cells through the forward map's touched buckets, plus
            # the new cells, in one collect (O(buckets))
            old = (
                snapshot_read(spark, fwd_path)
                .where(F.col("bkt").isin(buckets))
                .join(changed_ids, "vec_id", "left_semi")
                .select("assigned_cell")
            )
            touched = [
                r["assigned_cell"]
                for r in old.union(fresh.select("assigned_cell"))
                .distinct()
                .collect()
            ]
        bkt = (F.col("vec_id") % INDEX_BUCKETS).cast("int").alias("bkt")
        pins = {} if state is not None else {VECTOR_PINS[0]: fp}
        return [
            ("assigned_cell", touched, fresh, pins),
            ("bkt", buckets, fresh.select("vec_id", "assigned_cell", bkt), {}),
        ]

    return plan


def maintain_vector_index(
    spark: SparkSession,
    vecs_path: str,
    index_path: str,
    fwd_path: str,
    cells: DataFrame,
    keep_snapshots: int = 3,
) -> int | None:
    """ROLLING IVF POSTINGS MAINTENANCE — the vector twin of
    ``dedup_ops.maintain_band_index``, run by the same index-service
    tick (``snapshots._index_tick``): vectors land as snapshot commits
    on ``vecs_path`` (vec_id, embedding, ...), and each call consumes
    the table's CDC feed and keeps TWO snapshot tables exactly current
    against the fixed quantizer ``cells`` (label, cv):

      - ``index_path``: the postings, (vec_id, assigned_cell,
        centroid_cos) PARTITIONED BY assigned_cell — a cell-probe ANN
        query prunes to its cell's partitions off the manifest;
      - ``fwd_path``: the forward map, (vec_id, assigned_cell)
        partitioned by ``vec_id % INDEX_BUCKETS`` — the O(bucket)
        lookup that locates a changed vector's OLD posting without
        scanning the postings table (FAISS's id-map role; without it
        every tick would pay a full-index anti-join).

    A tick (O(|delta| + touched partitions), one commit per table, the
    two published concurrently) assigns the delta against the broadcast
    quantizer (assign_to_cells — map-side), finds old cells through the
    forward map's touched buckets, and rewrites the old and new cell
    partitions and the touched forward buckets. Centroid refresh stays a
    separate batch job (ivf_train_rounds), exactly as in FAISS.

    INDEX STATE lives in each table's own commit: both record the
    vectors version their rows reflect (``SOURCE_VERSION_PROP``), and
    the postings pin a fingerprint of ``cells`` (``VECTOR_PINS``) at
    first build. Tables that record different versions (a crash or fence
    between the publishes, or a restore of one) are rebuilt from the
    live vectors with the pin kept. A batch whose quantizer does not
    match the pin is REFUSED before any write — postings under two
    quantizers would mix incompatible cells; a centroid refresh is an
    explicit ``rebuild_vector_index``. The quantizer is fingerprinted
    only for a batch with rows, so a call with nothing new starts no
    Spark job. An index missing its pin, a version, or one of its two
    tables is refused, pointing at that rebuild. A delta that touches
    no bucket records its version in a properties-only commit per
    table. The tick holds the index's SERVICE lock.

    Returns the vectors version now reflected, or None if current.
    Parity (pytest, random commit sequences): postings ==
    assign_to_cells(live vectors) and the forward map matches, after
    every tick."""
    return _index_tick(
        spark, vecs_path, [(index_path, VECTOR_PINS), (fwd_path, ())],
        ("vec_id", "embedding"),
        _vector_plan(spark, index_path, fwd_path, cells),
        "rebuild_vector_index", keep_snapshots=keep_snapshots,
    )


def rebuild_vector_index(
    spark: SparkSession,
    vecs_path: str,
    index_path: str,
    fwd_path: str,
    cells: DataFrame,
    keep_snapshots: int = 3,
) -> str:
    """EXPLICIT RE-INDEX against a (possibly refreshed) quantizer — the
    rebuild verb the quantizer pin points to, and the migration for an
    index the maintainer refuses. It is the maintain tick from nothing
    (``snapshots._index_tick(full=True)``): assign the whole live
    corpus to ``cells`` in one broadcast-argmax pass and replace the
    postings and the forward map, each in one commit that retires every
    leaf its head held and records the vectors version the rebuild read
    (racing commits stay in the feed for the next tick), plus the new
    quantizer's fingerprint on the postings. This is what runs after an
    ``ivf_train_rounds`` centroid refresh. It holds the index's SERVICE
    lock, so no maintain tick interleaves. An empty corpus raises
    ``ValueError``. Returns the fingerprint now pinned."""
    vector = _vector_plan(spark, index_path, fwd_path, cells)
    pinned = {}

    def plan(changed, changed_ids, buckets, state):
        if changed.isEmpty():
            raise ValueError("rebuild needs a non-empty vector corpus")
        parts = vector(changed, changed_ids, buckets, state)
        pinned.update(parts[0][3])
        return parts

    _index_tick(
        spark, vecs_path, [(index_path, VECTOR_PINS), (fwd_path, ())],
        ("vec_id", "embedding"), plan, "rebuild_vector_index",
        full=True, keep_snapshots=keep_snapshots,
    )
    return pinned[VECTOR_PINS[0]]


def _flip(df: DataFrame, mod: int, res: int) -> DataFrame:
    """``df`` with the embeddings of ``vec_id % mod == res`` negated: the
    nearest centroid of a negated vector flips (a cross-cell move)."""
    return df.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % mod == res,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")),
    )


def _adversarial_vectors(e: DataFrame, base_rows: DataFrame, part) -> DataFrame:
    """The vector-index roundtrips' one adversarial rewrite of
    ``base_rows``: deletions (% 9), cross-cell moves (% 7), and the
    held-out delta cohort of ``e`` inserted id-shifted by a multiple of
    INDEX_BUCKETS (forward-map buckets kept)."""
    inserts = (
        e.where(F.col("vec_id") % VEC_DELTA_MOD == 0)
        .select(
            (F.col("vec_id") + 2000 * INDEX_BUCKETS).alias("vec_id"),
            F.col("v").alias("embedding"),
        )
        .select("vec_id", "embedding", part)
    )
    survivors = _flip(base_rows.where(F.col("vec_id") % 9 != 1), 7, 3)
    return survivors.unionByName(inserts)


def _vector_index_result(
    spark: SparkSession, ip: str, fwd: str, root: str
) -> DataFrame:
    """The vector-index roundtrips' result: the postings (vec_id,
    assigned_cell), once the forward map is asserted to agree with them
    (``root`` is removed either way)."""
    import shutil

    from callio_etl_spark.queries.sinks import _materialize_and_clean

    postings = snapshot_read(spark, ip).select("vec_id", "assigned_cell")
    fmap = snapshot_read(spark, fwd).select("vec_id", "assigned_cell")
    if not postings.exceptAll(fmap).unionByName(
        fmap.exceptAll(postings)
    ).isEmpty():
        shutil.rmtree(root, ignore_errors=True)
        raise AssertionError("forward map diverged from the postings")
    return _materialize_and_clean(postings, root)


@register(
    "rebuild_vector_index",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
base AS (SELECT * FROM e WHERE vec_id % {VEC_DELTA_MOD} <> 0),
cent AS (
  SELECT label, CAST(ix AS BIGINT) AS dim,
         CAST(SUM(CAST(FLOOR(v[ix] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS c
  FROM (SELECT * FROM base WHERE vec_id % 2 = 0), range(1, {EMB_DIM} + 1) t(ix)
  GROUP BY label, ix
),
cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
c1 AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 3 THEN list_transform(v, x -> -x)
              ELSE v END AS v
  FROM base WHERE vec_id % 9 <> 1
  UNION ALL
  SELECT vec_id + {2000 * INDEX_BUCKETS} AS vec_id, v
  FROM e WHERE vec_id % {VEC_DELTA_MOD} = 0
),
c2 AS (
  SELECT vec_id, CASE WHEN vec_id % 11 = 5 THEN list_transform(v, x -> -x)
                      ELSE v END AS v
  FROM c1
),
final AS (
  SELECT vec_id, CASE WHEN vec_id % 13 = 1 THEN list_transform(v, x -> -x)
                      ELSE v END AS v
  FROM c2
),
scored AS (
  SELECT f.vec_id, cv.label AS assigned_cell,
         ROW_NUMBER() OVER (PARTITION BY f.vec_id
           ORDER BY list_cosine_similarity(f.v, cv.cv) DESC, cv.label ASC
         ) AS rn
  FROM final f CROSS JOIN cvec cv
)
SELECT vec_id, assigned_cell FROM scored WHERE rn = 1
""",
    tags=["llm", "similarity", "cdc", "index", "sink", "scale-path"],
)
def rebuild_vector_index_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EXPLICIT RE-INDEX verb as an oracle-checked roundtrip — the
    rebuild half of the quantizer-pin story (``rebuild_vector_index``;
    the maintain half is ``maintain_vector_index``): build postings +
    forward map against the frozen base-corpus quantizer, land the
    standard adversarial rewrite (deletes % 9, cross-cell negation
    moves % 7, id-shifted inserts) and tick — then REFRESH the
    quantizer (centroids re-trained on the even-id half of the base, a
    different fingerprint), commit a further delta (negate % 11) and
    prove the tick at the refreshed cells is REFUSED (quantizer drift;
    the index must not advance), run ``rebuild_vector_index`` against
    the new cells — full re-assignment, emptied cells/buckets retired,
    fingerprint and the rebuild-time vectors version recorded
    ATOMICALLY with each overwrite (the refused delta is subsumed,
    proven by a no-op tick) — and land one more delta
    (negate % 13) consumed at the new pin. The oracle recomputes
    nearest-centroid assignment of the FINAL vectors against the
    REFRESHED quantizer, so a rebuild that kept old-cell postings, a
    refusal that half-applied, a version that replayed or skipped, or a
    tick that mixed quantizers all break the hash (forward-map parity
    and the pinned fingerprint are additionally asserted in-query).

    Cost shape at 100 TB: the rebuild is the one deliberate O(corpus)
    broadcast-argmax pass (what runs after an ivf_train_rounds
    centroid refresh); every tick around it stays O(|delta| + touched
    cell partitions / forward buckets)."""
    from callio_etl_spark.queries.sinks import _tmp
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_properties,
    )

    root = _tmp("vecrebuild")
    vp, ip, fwd = f"{root}/vecs", f"{root}/idx", f"{root}/fwd"
    e = _emb(spark, sf_dir)
    base = e.where(F.col("vec_id") % VEC_DELTA_MOD != 0)
    # checkpoint each quantizer ONCE: three ticks consume cells1 and
    # three consume cells2 — without this every call re-materialized the
    # same centroid aggregate (~0.2 s apiece, r15 profile)
    cells1 = _cvec(base).localCheckpoint(eager=True)
    part = (F.col("vec_id") % 4).cast("string").alias("p")
    base_rows = base.select("vec_id", F.col("v").alias("embedding"), part)
    snapshot_partition_overwrite(spark, base_rows, vp, "p", keep_snapshots=5)
    v0 = maintain_vector_index(spark, vp, ip, fwd, cells1)

    corpus1 = _adversarial_vectors(e, base_rows, part)
    snapshot_partition_overwrite(spark, corpus1, vp, "p", keep_snapshots=5)
    v1 = maintain_vector_index(spark, vp, ip, fwd, cells1)
    if v0 is None or v1 is None or not v1 > v0:
        raise AssertionError(f"index did not advance: {v0} -> {v1}")

    # quantizer refresh + a pending delta: the drifted tick must refuse
    cells2 = _cvec(base.where(F.col("vec_id") % 2 == 0)).localCheckpoint(
        eager=True
    )
    corpus2 = _flip(corpus1, 11, 5)
    snapshot_partition_overwrite(spark, corpus2, vp, "p", keep_snapshots=5)
    try:
        maintain_vector_index(spark, vp, ip, fwd, cells2)
    except ValueError:
        pass
    else:
        raise AssertionError("drifted-quantizer tick was not refused")

    fp = rebuild_vector_index(spark, vp, ip, fwd, cells2)
    if maintain_vector_index(spark, vp, ip, fwd, cells2) is not None:
        raise AssertionError(
            "rebuild did not record its vectors version: the next tick "
            "replayed the pre-rebuild feed"
        )
    pinned = snapshot_properties(spark, ip).get("ivf.quantizer_md5")
    if pinned != fp:
        raise AssertionError(f"pin not re-recorded: {pinned} != {fp}")

    # post-rebuild delta consumed at the new pin
    corpus3 = _flip(corpus2, 13, 1)
    snapshot_partition_overwrite(spark, corpus3, vp, "p", keep_snapshots=5)
    if maintain_vector_index(spark, vp, ip, fwd, cells2) is None:
        raise AssertionError("post-rebuild delta not consumed")

    return _vector_index_result(spark, ip, fwd, root)


@register(
    "stream_ingest_vector_index",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT label, CAST(ix AS BIGINT) AS dim,
         CAST(SUM(CAST(FLOOR(v[ix] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS c
  FROM e, range(1, {EMB_DIM} + 1) t(ix)
  GROUP BY label, ix
),
cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
b1 AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
final AS (
  SELECT vec_id,
         CASE WHEN vec_id % 14 = 0 THEN list_transform(v, x -> -x)
              ELSE v END AS v
  FROM b1
  UNION ALL
  SELECT vec_id, v FROM e WHERE vec_id % 2 = 1
),
scored AS (
  SELECT f.vec_id, cv.label AS assigned_cell,
         ROW_NUMBER() OVER (PARTITION BY f.vec_id
           ORDER BY list_cosine_similarity(f.v, cv.cv) DESC, cv.label ASC
         ) AS rn
  FROM final f CROSS JOIN cvec cv
)
SELECT vec_id, assigned_cell FROM scored WHERE rn = 1
""",
    tags=["llm", "similarity", "streaming", "cdc", "index"],
)
def stream_ingest_vector_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED vector streaming service loop as an oracle-checked
    roundtrip (streaming.run_vectors_ingest_with_ivf_index — the IVF
    twin of ``stream_ingest_band_index``, closing VERDICT r9 item 3):
    two landing-zone batches arrive as file-source micro-batch ticks —
    the even half of the vectors, then the odd half PLUS in-place
    UPDATES of the % 14 == 0 vectors (same vec_id, embedding NEGATED,
    so the nearest centroid flips and the old posting must be retired
    from a different cell partition than the new one lands in) — and
    each tick both lands the batch in the vectors snapshot table
    (replay-idempotent merge-keys commits) and advances the persisted
    postings + forward map through the table's CDC feed in the same
    foreachBatch call, the frozen full-corpus quantizer pin riding
    every tick. The result is the postings after tick 2; the oracle
    recomputes nearest-centroid assignment of the FINAL vectors against
    the same quantizer, so a tick that lost the carry, a stale posting
    for an updated vector, or an index that lagged a tick all break
    the hash.

    Scale shape: per tick the index work is O(|batch| assignments +
    touched cell partitions / forward buckets) and the data commit
    O(touched partitions) — the rolling ANN-ingest service contract,
    exercised through the actual Structured Streaming sink rather than
    direct calls."""
    import shutil
    import tempfile

    from callio_etl_spark.snapshots import snapshot_read
    from callio_etl_spark.streaming.incremental import (
        read_vector_stream,
        run_vectors_ingest_with_ivf_index,
    )

    root = tempfile.mkdtemp(prefix="callio_streamvec_")
    src_dir, ck = f"{root}/src", f"{root}/ck"
    vp, ip, fwd = f"{root}/vecs", f"{root}/idx", f"{root}/fwd"
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    # frozen full-corpus quantizer, checkpointed ONCE for both ticks
    cells = _cvec(_emb(spark, sf_dir)).localCheckpoint(eager=True)

    def tick(batch: DataFrame) -> None:
        batch.write.mode("append").parquet(src_dir)
        run_vectors_ingest_with_ivf_index(
            read_vector_stream(spark, src_dir), ck, vp, ip, fwd, "label",
            cells,
        )

    tick(e.where(F.col("vec_id") % 2 == 0))
    updates = (
        e.where(F.col("vec_id") % 14 == 0)
        .withColumn("embedding", F.transform("embedding", lambda x: -x))
    )
    tick(e.where(F.col("vec_id") % 2 == 1).unionByName(updates))

    landed = snapshot_read(spark, vp).count()
    expect = e.count()
    if landed != expect:
        shutil.rmtree(root, ignore_errors=True)
        raise AssertionError(f"landed vectors wrong: {landed} != {expect}")
    return _vector_index_result(spark, ip, fwd, root)


@register(
    "maintain_vector_index",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
base AS (SELECT * FROM e WHERE vec_id % {VEC_DELTA_MOD} <> 0),
cent AS (
  SELECT label, CAST(ix AS BIGINT) AS dim,
         CAST(SUM(CAST(FLOOR(v[ix] * 1e10) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e10 / COUNT(*) AS c
  FROM base, range(1, {EMB_DIM} + 1) t(ix)
  GROUP BY label, ix
),
cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
final AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 3 THEN list_transform(v, x -> -x)
              ELSE v END AS v
  FROM base WHERE vec_id % 9 <> 1
  UNION ALL
  SELECT vec_id + {2000 * INDEX_BUCKETS} AS vec_id, v
  FROM e WHERE vec_id % {VEC_DELTA_MOD} = 0
),
scored AS (
  SELECT f.vec_id, cv.label AS assigned_cell,
         ROW_NUMBER() OVER (PARTITION BY f.vec_id
           ORDER BY list_cosine_similarity(f.v, cv.cv) DESC, cv.label ASC
         ) AS rn
  FROM final f CROSS JOIN cvec cv
)
SELECT vec_id, assigned_cell FROM scored WHERE rn = 1
""",
    tags=["llm", "similarity", "cdc", "index", "sink"],
)
def maintain_vector_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING IVF POSTINGS MAINTENANCE end to end — the driver row for
    ``maintain_vector_index`` (VERDICT r8 item 1, the vector twin of
    ``maintain_band_index``): commit the base vectors (vec_id %
    {VEC_DELTA_MOD} != 0) as a snapshot table, freeze the quantizer as
    their per-label centroids, build postings + forward map from the CDC
    feed, then land ONE adversarial rewrite — deletions (% 9),
    CROSS-CELL MOVES (% 7: the embedding is negated, so its nearest
    centroid flips and the old posting must be retired from a DIFFERENT
    cell partition than the new one lands in), and inserts (the held-out
    delta cohort, id-shifted by a multiple of {INDEX_BUCKETS} so
    forward-map buckets are preserved) — and tick again. The result is
    the postings table (vec_id, assigned_cell); the oracle recomputes
    nearest-centroid assignment of the FINAL vectors against the same
    frozen quantizer, so a stale posting left in the old cell, a missed
    retirement, or a forward-map divergence breaks the hash (the forward
    map is additionally asserted in-query to agree with the postings).

    Cost shape at 100 TB: each tick assigns only the delta against the
    broadcast quantizer and rewrites only the touched cell partitions
    and forward buckets — O(|delta| + touched partitions); the oracle
    side is the full-corpus reassignment the service exists to avoid."""
    from callio_etl_spark.queries.sinks import _tmp
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("vecidx")
    vp, ip, fwd = f"{root}/vecs", f"{root}/idx", f"{root}/fwd"
    e = _emb(spark, sf_dir)  # (vec_id, label, v: array<double>)
    base = e.where(F.col("vec_id") % VEC_DELTA_MOD != 0)
    # the frozen coarse quantizer, checkpointed ONCE for both ticks
    cells = _cvec(base).localCheckpoint(eager=True)
    part = (F.col("vec_id") % 4).cast("string").alias("p")
    base_rows = base.select("vec_id", F.col("v").alias("embedding"), part)
    snapshot_partition_overwrite(spark, base_rows, vp, "p", keep_snapshots=5)
    v0 = maintain_vector_index(spark, vp, ip, fwd, cells)

    snapshot_partition_overwrite(
        spark, _adversarial_vectors(e, base_rows, part), vp, "p",
        keep_snapshots=5,
    )
    v1 = maintain_vector_index(spark, vp, ip, fwd, cells)
    if v0 is None or v1 is None or not v1 > v0:
        raise AssertionError(f"index did not advance: {v0} -> {v1}")

    # the cross-cell-move class must actually have moved >= 1 vector
    postings = snapshot_read(spark, ip).select("vec_id", "assigned_cell")
    moved = (
        postings.where(F.col("vec_id") % 7 == 3)
        .join(
            assign_to_cells(
                base.where(F.col("vec_id") % 7 == 3).select(
                    "vec_id", F.lit(-1).cast("int").alias("label"), "v"
                ),
                cells,
            ).select("vec_id", F.col("assigned_cell").alias("old_cell")),
            "vec_id",
        )
        .where(F.col("assigned_cell") != F.col("old_cell"))
        .count()
    )
    if moved == 0:
        raise AssertionError("negation edit moved no vector across cells")
    return _vector_index_result(spark, ip, fwd, root)
