"""Relational operator queries — dedup, windows, joins, aggregates, set ops,
filters (SURVEY.md sections 2.3-2.8). One named query per operator family,
each with a DuckDB oracle.

Determinism conventions (registry docstring): unique-key tiebreakers on every
window/top-k ordering; decimal accumulation for double sums; MIN/MAX instead
of ANY_VALUE.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from callio_etl_spark import dedup
from callio_etl_spark.registry import register
from callio_etl_spark.tables import load_table, load_tables

# ---------------------------------------------------------------------------
# Dedup / window / sort / limit / set ops
# ---------------------------------------------------------------------------


@register(
    "latest_per_key",
    oracle="""
SELECT o.o_custkey, o.o_orderkey, epoch_ms(o.o_orderdate) AS order_ms,
       o.o_totalprice, o.o_orderstatus
FROM orders o
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY o.o_custkey
  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1
""",
    tags=["D3", "W1"],
)
def latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/W1 — latest-row-per-key via ROW_NUMBER + QUALIFY=1
    (runner.py:169-172; staff variant 477-480). The shrink-before-MERGE step:
    one source row per key. Tiebreaker o_orderkey keeps it deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return dedup.latest_per_key(
        o, ["o_custkey"], F.col("o_orderdate"), [F.col("o_orderkey")]
    ).select(
        "o_custkey",
        "o_orderkey",
        F.unix_millis("o_orderdate").alias("order_ms"),
        "o_totalprice",
        "o_orderstatus",
    )


@register(
    "dedup_first_wins",
    oracle="""
SELECT e.user_id, e.event_type, e.event_id, epoch_ms(e.ts) AS ts_ms
FROM events e
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY e.user_id, e.event_type
  ORDER BY e.ts ASC, e.event_id ASC) = 1
""",
    tags=["D1", "D2"],
)
def dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — keyed first-occurrence-wins dedup (api.py:238-257: scan
    accumulates docs in a dict keyed by `_id`, first hit kept). Arrival order
    here is (ts, event_id) ascending."""
    e = load_table(spark, sf_dir, "events")
    return dedup.first_wins(
        e, ["user_id", "event_type"], [F.col("ts").asc(), F.col("event_id").asc()]
    ).select("user_id", "event_type", "event_id", F.unix_millis("ts").alias("ts_ms"))


@register(
    "distinct_rows",
    oracle="""
SELECT DISTINCT l.l_returnflag, l.l_linestatus, l.l_suppkey
FROM lineitem l
""",
    tags=["D2", "D4"],
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — exact projected dedup (runner.py:265-266). Spark plans DISTINCT as
    a hash aggregate with map-side partial dedup — the same shrink-early
    behavior the reference gets from its in-scan dict."""
    li = load_table(spark, sf_dir, "lineitem")
    return dedup.distinct_rows(li, ["l_returnflag", "l_linestatus", "l_suppkey"])


@register(
    "topk_recent",
    oracle="""
SELECT e.event_id, epoch_ms(e.ts) AS ts_ms, e.event_type, e.value
FROM events e
ORDER BY e.ts DESC, e.event_id DESC
LIMIT 100
""",
    tags=["O1", "O2"],
)
def topk_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 — global desc sort + top-K truncation (api.py:311-313: sort docs
    newest-first, slice to limit_records). Spark plans orderBy+limit as
    TakeOrderedAndProject — no global sort materialization, each partition
    contributes its local top-K."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
        .select("event_id", F.unix_millis("ts").alias("ts_ms"), "event_type", "value")
    )


@register(
    "union_tenants",
    oracle="""
SELECT t.src, COUNT(*) AS n_rows,
       CAST(SUM(CAST(t.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM (
  SELECT 'hot'  AS src, e.value FROM events e WHERE e.value > 100
  UNION ALL
  SELECT 'cold' AS src, e.value FROM events e WHERE e.value <= 100
) t
GROUP BY t.src
""",
    tags=["U1", "A8"],
)
def union_tenants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/A8 — UNION ALL of per-source frames then consolidate
    (runner.py:774: staff dims UNION ALL; runner.py:373, 410: pd.concat of
    per-tenant frames). Spark-first: tenants are a column, frames union by
    name, the aggregate is one shuffle."""
    e = load_table(spark, sf_dir, "events")
    hot = e.where(F.col("value") > 100).select(F.lit("hot").alias("src"), "value")
    cold = e.where(F.col("value") <= 100).select(F.lit("cold").alias("src"), "value")
    return (
        hot.unionByName(cold)
        .groupBy("src")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_left_dim",
    oracle="""
SELECT c.c_custkey, c.c_name, COALESCE(n.n_name, 'Unassigned') AS team
FROM customer c
LEFT JOIN nation n ON CAST(c.c_nationkey AS VARCHAR) = CAST(n.n_nationkey AS VARCHAR)
""",
    tags=["J1", "J2", "J3"],
)
def join_left_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-J3 — LEFT equi-join to a tiny dim with cast-normalized keys and
    COALESCE(name,'Unassigned') (runner.py:631-632, 667-668, 785-786).
    The dim is explicitly broadcast: no shuffle at any scale."""
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    c, n = t["customer"], t["nation"]
    return c.join(
        F.broadcast(n),
        c["c_nationkey"].cast("string") == n["n_nationkey"].cast("string"),
        "left",
    ).select(
        "c_custkey", "c_name", F.coalesce("n_name", F.lit("Unassigned")).alias("team")
    )


@register(
    "join_fanout",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT l.l_orderkey) AS n_orders,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem l
LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    tags=["J5"],
)
def join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — many-to-many/fan-out join with counts over joined rows
    (runner.py:813-814: calls LEFT JOIN customers on phone; duplicates are
    NOT collapsed — the counting semantics depend on the fan-out)."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    li, o = t["lineitem"], t["orders"]
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "join_full_outer",
    oracle="""
WITH ev AS (
  SELECT CAST(e.ts AS DATE) AS d, e.user_id AS uid, COUNT(*) AS n_events
  FROM events e GROUP BY 1, 2
),
od AS (
  SELECT CAST(o.o_orderdate AS DATE) AS d, o.o_custkey AS uid, COUNT(*) AS n_orders
  FROM orders o GROUP BY 1, 2
)
SELECT COALESCE(ev.d, od.d) AS d,
       COALESCE(ev.uid, od.uid) AS uid,
       COALESCE(ev.n_events, 0) AS n_events,
       COALESCE(od.n_orders, 0) AS n_orders
FROM ev FULL OUTER JOIN od ON ev.d = od.d AND ev.uid = od.uid
WHERE COALESCE(ev.uid, od.uid) IS NOT NULL
""",
    tags=["J4", "F4", "P13"],
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/F4 — FULL OUTER join on a composite key with COALESCE key merge and
    the null-key guard (runner.py:692-695). Both sides were just aggregated
    on the join key, so the shuffle partitioning is reused."""
    t = load_tables(spark, sf_dir, ["events", "orders"])
    ev = (
        t["events"]
        .groupBy(F.to_date("ts").alias("d"), F.col("user_id").alias("uid"))
        .agg(F.count("*").alias("n_events"))
    )
    od = (
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("d"), F.col("o_custkey").alias("uid"))
        .agg(F.count("*").alias("n_orders"))
    )
    ev, od = ev.alias("ev"), od.alias("od")
    return (
        ev.join(od, (F.col("ev.d") == F.col("od.d")) & (F.col("ev.uid") == F.col("od.uid")), "full_outer")
        .where(F.coalesce(F.col("ev.uid"), F.col("od.uid")).isNotNull())
        .select(
            F.coalesce(F.col("ev.d"), F.col("od.d")).alias("d"),
            F.coalesce(F.col("ev.uid"), F.col("od.uid")).alias("uid"),
            F.coalesce(F.col("ev.n_events"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("od.n_orders"), F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "join_semi",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=["J8-matched"],
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — the MERGE matched-arm membership test
    (runner.py:174-181: WHEN MATCHED). Spark gets it as a first-class join
    type; no column duplication, build side hashed once."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    c, o = t["customer"], t["orders"]
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=["J8-notmatched"],
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — the MERGE not-matched-arm (runner.py:183-199:
    WHEN NOT MATCHED INSERT selects source rows with no target match)."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    c, o = t["customer"], t["orders"]
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "window_range_scan",
    oracle="""
WITH win AS (SELECT DATE '1997-01-01' AS d_start, DATE '1997-12-31' AS d_end)
SELECT CAST(o.o_orderdate AS DATE) AS d, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders o, win
WHERE CAST(o.o_orderdate AS DATE) BETWEEN win.d_start AND win.d_end
GROUP BY 1
""",
    tags=["J7", "F3", "S3"],
)
def window_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/F3 — scalar cross join with a 1-row window CTE and the BETWEEN
    partition-range predicate (runner.py:736-740, 750-765: `FROM t, win WHERE
    d BETWEEN win.d_start AND win.d_end`). On a date-partitioned table the
    BETWEEN prunes partitions; the 1-row side is broadcast for free."""
    o = load_table(spark, sf_dir, "orders")
    win = spark.createDataFrame(
        [("1997-01-01", "1997-12-31")], ["d_start", "d_end"]
    ).select(F.col("d_start").cast("date"), F.col("d_end").cast("date"))
    return (
        o.crossJoin(F.broadcast(win))
        .where(F.to_date("o_orderdate").between(F.col("d_start"), F.col("d_end")))
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("total"),
        )
    )


@register(
    "customer_in_range",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS d,
       o.o_orderstatus
FROM orders o
WHERE CAST(o.o_orderdate AS DATE) BETWEEN DATE '1998-01-01' AND DATE '1998-06-30'
  AND o.o_orderstatus = 'F'
""",
    tags=["T1", "F3"],
)
def customer_in_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — the `customer_in_range(part_min, part_max)` TVF (referenced at
    runner.py:648-651; body external to the repo — SURVEY section 2.8 defines
    the assumed semantics: rows whose date falls in [part_min, part_max]).
    Implemented as a parameterized function returning a DataFrame."""
    return customer_in_range_tvf(spark, sf_dir, "1998-01-01", "1998-06-30", "F")


def customer_in_range_tvf(
    spark: SparkSession, sf_dir: str, part_min: str, part_max: str, tenant: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(
            F.to_date("o_orderdate").between(F.lit(part_min).cast("date"), F.lit(part_max).cast("date"))
            & (F.col("o_orderstatus") == tenant)
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            "o_orderstatus",
        )
    )


# ---------------------------------------------------------------------------
# Aggregates / filters
# ---------------------------------------------------------------------------


@register(
    "checkpoint_warm",
    oracle="""
SELECT e.event_type AS table_name,
       CAST(e.user_id % 5 AS VARCHAR) AS tenant,
       MAX(epoch_ms(e.ts)) AS max_update_ms,
       COUNT(*) AS n_rows
FROM events e
GROUP BY 1, 2
""",
    tags=["A6", "C1"],
)
def checkpoint_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/C1 — checkpoint warm: GROUP BY (table_name, tenant) MAX(ts) over the
    update log (checkpoints.py:60-78). The checkpoint *is* this aggregate."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.col("event_type").alias("table_name"),
            (F.col("user_id") % 5).cast("string").alias("tenant"),
        )
        .agg(F.max(F.unix_millis("ts")).alias("max_update_ms"), F.count("*").alias("n_rows"))
    )


@register(
    "checkpoint_log_compact",
    oracle="""
WITH keyed AS (
  SELECT e.event_type AS table_name,
         CAST(e.user_id % 3 AS VARCHAR) AS tenant,
         CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS updated_at,
         epoch_ms(e.ts) AS ts_ms
  FROM events e
), log AS (
  SELECT table_name, tenant, updated_at,
         CAST(COUNT(*) AS BIGINT) AS rows_loaded,
         MAX(ts_ms)
           + CASE WHEN EXTRACT(day FROM updated_at) = 1
                  THEN 10000000000 ELSE 0 END AS max_update_ms,
         'MERGED' AS mode
  FROM keyed
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY table_name, tenant
                            ORDER BY updated_at DESC, max_update_ms DESC)
           AS rn,
         ROW_NUMBER() OVER (PARTITION BY table_name, tenant
                            ORDER BY max_update_ms DESC, updated_at DESC)
           AS rk
  FROM log
)
SELECT table_name, tenant, epoch_ms(updated_at) AS updated_ms,
       rows_loaded, max_update_ms, mode
FROM ranked
WHERE rn <= 3 OR rk = 1
""",
    tags=["C5", "C1", "sink"],
)
def checkpoint_log_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 retention — the update_log bound a year-long daemon needs (r12):
    build a deterministic many-file update_log from the events table (one
    audit row per (event_type, tenant, day); day-1 rows get an inflated
    watermark so each key's TRUE checkpoint row falls OUTSIDE the
    newest-3 audit window), compact it with
    ``CheckpointStore.compact(keep_rows_per_key=3)``, and return the
    retained log. The oracle recomputes the retention with SQL windows,
    so an over-retained audit row, a dropped one, or — the critical
    branch — a dropped checkpoint row (whose loss would silently rewind
    warm() to the cold-start lookback) all break the hash. warm() parity
    across the compaction is additionally asserted in-query.

    Scale shape: two window passes + one ``snapshot_overwrite`` commit
    over a log that is metadata-sized by construction (one row per tick),
    never the data tables themselves."""
    import shutil as _shutil

    from callio_etl_spark.checkpoints import CheckpointStore
    from callio_etl_spark.queries.sinks import _tmp
    from callio_etl_spark.snapshots import snapshot_append, snapshot_read

    e = load_table(spark, sf_dir, "events")
    log = (
        e.groupBy(
            F.col("event_type").alias("table_name"),
            (F.col("user_id") % 3).cast("string").alias("tenant"),
            F.date_trunc("day", F.col("ts")).alias("updated_at"),
        )
        .agg(
            F.count("*").alias("rows_loaded"),
            F.max(F.unix_millis("ts")).alias("__mx"),
        )
        .select(
            "table_name",
            "tenant",
            "updated_at",
            "rows_loaded",
            (
                F.col("__mx")
                + F.when(
                    F.dayofmonth("updated_at") == 1, F.lit(10_000_000_000)
                ).otherwise(F.lit(0))
            ).alias("max_update_ms"),
            F.lit("MERGED").alias("mode"),
        )
    )
    root = _tmp("cklog")
    # many small files in the log's snapshot format — the shape a run of
    # per-tick flushes leaves behind
    snapshot_append(spark, log.repartition(24), root, None)
    try:
        store = CheckpointStore(spark, root)
        before = CheckpointStore(spark, root)
        before.warm()
        store.compact(keep_rows_per_key=3)
        after = CheckpointStore(spark, root)
        after.warm()
        if before._cache != after._cache:
            raise AssertionError(
                "compaction changed the warmed checkpoints: "
                f"{before._cache} != {after._cache}"
            )
        out = snapshot_read(spark, root).select(
            "table_name",
            "tenant",
            F.unix_millis("updated_at").alias("updated_ms"),
            "rows_loaded",
            "max_update_ms",
            "mode",
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        _shutil.rmtree(root, ignore_errors=True)


@register(
    "extrema",
    oracle="""
SELECT MAX(epoch_ms(e.ts)) AS max_ts_ms, MIN(epoch_ms(e.ts)) AS min_ts_ms,
       MAX(e.event_id) AS max_id, COUNT(*) AS n
FROM events e
""",
    tags=["A7"],
)
def extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — driver-side extrema for checkpoint advance (runner.py:141,
    306-307: max createTime; 97, 255: min staged ts). In Spark these are the
    only sanctioned driver collects: a 1-row aggregate."""
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.max(F.unix_millis("ts")).alias("max_ts_ms"),
        F.min(F.unix_millis("ts")).alias("min_ts_ms"),
        F.max("event_id").alias("max_id"),
        F.count("*").alias("n"),
    )


@register(
    "watermark_filter",
    oracle="""
SELECT e.event_type, COUNT(*) AS n
FROM events e
WHERE e.ts > TIMESTAMP '2024-01-15 00:00:00'
GROUP BY 1
""",
    tags=["F1", "C2", "S1"],
)
def watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/C2/S1 — the incremental watermark cutoff: keep only rows newer than
    the checkpoint (api.py:190-195, 241-243; overlap rule runner.py:64).
    The cutoff is applied to the RAW nanos column before conversion
    (tables.load_events_since) so it reaches the parquet reader as a real
    PushedFilter — asserted in tests/test_plans.py."""
    from callio_etl_spark.tables import load_events_since

    e = load_events_since(spark, sf_dir, 1705276800000)
    return e.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "nonblank_filter",
    oracle="""
SELECT d.lang, COUNT(*) AS n
FROM documents d
WHERE d.text IS NOT NULL AND TRIM(d.text) <> ''
GROUP BY 1
""",
    tags=["F2"],
)
def nonblank_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — non-blank guard (runner.py:375: staff rows with a usable name)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.where(F.col("text").isNotNull() & (F.trim("text") != ""))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "conditional_agg",
    oracle="""
SELECT l.l_returnflag,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE l.l_discount > 0.05) AS n_discounted,
       COUNT(*) FILTER (WHERE l.l_discount = 0.0)  AS n_full_price,
       COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
       CAST(SUM(CAST(CASE WHEN l.l_discount > 0.05
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS disc_revenue,
       MAX(epoch_ms(l.l_shipdate)) AS max_ship_ms
FROM lineitem l
GROUP BY 1
""",
    tags=["A1", "A2", "A5"],
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 — the COUNTIF / SUM(CASE) / COUNT(DISTINCT) / MAX aggregate
    family (runner.py:608-656) on its own, at lineitem scale. Partial
    aggregation runs map-side; COUNT(DISTINCT) stays exact (the oracle gate
    requires it — approx_count_distinct is available for the 100 TB path but
    is a different operator)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_discount") == 0.0).alias("n_full_price"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.sum(
            F.when(
                F.col("l_discount") > 0.05,
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
            )
            .otherwise(0.0)
            .cast("decimal(18,6)")
        )
        .cast("double")
        .alias("disc_revenue"),
        F.max(F.unix_millis("l_shipdate")).alias("max_ship_ms"),
    )


@register(
    "salted_join_agg",
    oracle="""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_custs
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY 1
""",
    tags=["skew", "J1"],
)
def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew-mitigation operator (io.salted_join) under the
    oracle gate: the fact side carries a row-hash salt splitting every hot
    key across n_salts shuffle partitions, the dim side is exploded across
    all salt values, and the result must be ROW-IDENTICAL to the plain
    equi-join — which is exactly what the SQL oracle computes. At 100 TB
    this is the manual fix for a single key too hot for one task even
    after AQE skew-splitting (io.py:94 documents when to prefer which);
    here the identity property is what the driver verifies."""
    from callio_etl_spark.io import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = salted_join(o, c, "o_custkey", n_salts=8, how="inner")
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )
