"""Deduplication operators (SURVEY.md section 2.4, D1-D4).

Scale notes: all variants are expressed as aggregations / window functions so
Spark plans them with partial (map-side) aggregation before the key shuffle;
none of them collect. At 100 TB the shuffle key is (tenant, _id)-like — high
cardinality, well distributed — so AQE's coalesce/skew handling suffices
without manual salting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F


def first_wins(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """D1 — keyed first-occurrence-wins dedup (api.py:238-257: dict keyed by
    `_id`, first page hit kept). Deterministic Spark form: row_number over an
    explicit arrival order, keep rn == 1. Callers must include a unique
    tiebreaker in order_by."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_key(df: DataFrame, keys: list[str], ts_col: Column, tiebreak: list[Column] | None = None) -> DataFrame:
    """D3 — latest-row-per-key (runner.py:169-172: QUALIFY ROW_NUMBER() OVER
    (PARTITION BY tenant,_id ORDER BY SAFE_CAST(updateTime AS INT64) DESC)=1).
    Required before every MERGE so the source has one row per key."""
    order = [ts_col.desc()] + [c.desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Full-row (or projected) exact dedup — hash aggregate, partial+final."""
    return (df.select(*cols) if cols else df).distinct()
