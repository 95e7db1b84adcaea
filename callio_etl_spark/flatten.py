"""Entity flatten/derive chains — the reference's pandas transform layer
re-expressed as single Spark projections (SURVEY.md sections 2.2, 3.2).

Reference: runner.py:106-146 (customer), 264-302 (call log), 328-351 (staff),
344-351 (group); nested extractors utils.py:104-203. Each chain is ONE
.select — Catalyst fuses the nested-field getters, customField lookup, date
derivations and row hash into a single codegen'd projection; the reference
does five pandas `.apply` passes per frame.

Input shapes (FIXTURES.md B1/B2): structs may arrive parsed
(StructType) or stringly (JSON / Python-repr) — pass parse=True for the
stringly form (P6: from_json after quote normalization).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from callio_etl_spark import functions as cf

CUSTOMER_COLUMNS = [
    "_id",
    "assignedTime",
    "createTime",
    "updateTime",
    "name",
    "phone",
    "user_id",
    "user_name",
    "user_group_id",
    "customField_0_val",
]

CALL_COLUMNS = [
    "_id",
    "chargeTime",
    "createTime",
    "direction",
    "fromNumber",
    "toNumber",
    "startTime",
    "endTime",
    "duration",
    "billDuration",
    "hangupCause",
    "answerTime",
    "fromUser__id",
    "fromUser__name",
    "fromGroup__id",
]

USER_SCHEMA = "struct<_id:string, name:string, group:struct<_id:string>>"


def _user_col(df: DataFrame, parse: bool) -> Column:
    u = F.col("user")
    return cf.parse_permissive(u, USER_SCHEMA) if parse else u


def flatten_customer(df: DataFrame, tenant: str, parse_user: bool = False) -> DataFrame:
    """Customer flatten chain (runner.py:106-146): P2 user struct extraction
    (group may be struct or scalar), P5 customField pick ('tinh-trang-kh'),
    P1 projection with NULL backfill, P16 tenant stamp, P8 epoch-ms dates,
    P7 row hash."""
    u = _user_col(df, parse_user)
    base = df.withColumns(
        {
            "user_id": u.getField("_id").cast("string"),
            "user_name": u.getField("name").cast("string"),
            # utils.py:190-203 — group may be {'_id': x} or the scalar id
            "user_group_id": cf.struct_or_scalar(u.getField("group"), "_id"),
            "customField_0_val": cf.custom_field_pick(
                F.col("customFields"), "tinh-trang-kh"
            ),
        }
    )
    projected = cf.project_with_null_backfill(base, CUSTOMER_COLUMNS).withColumn(
        "tenant", F.lit(tenant)
    )
    return projected.withColumns(
        {
            "NgayUpdate": cf.epoch_ms_to_utc_date(F.col("updateTime")),
            "NgayAssign": cf.epoch_ms_to_utc_date(F.col("assignedTime")),
            "row_hash": cf.row_hash(
                projected, exclude=cf.ROW_HASH_EXCLUDE | {"tenant"}
            ),
        }
    )


def flatten_call(df: DataFrame, tenant: str) -> DataFrame:
    """Call-log flatten chain (runner.py:264-302): P3 fromUser/fromGroup
    extraction, P1 projection, P16 tenant, P8 NgayTao, P7 row hash."""
    base = df.withColumns(
        {
            "fromUser__id": cf.struct_field("fromUser", "_id").cast("string"),
            "fromUser__name": cf.struct_field("fromUser", "name").cast("string"),
            "fromGroup__id": cf.struct_field("fromGroup", "_id").cast("string"),
        }
    )
    projected = cf.project_with_null_backfill(base, CALL_COLUMNS).withColumn(
        "tenant", F.lit(tenant)
    )
    return projected.withColumns(
        {
            "NgayTao": cf.epoch_ms_to_utc_date(F.col("createTime")),
            "row_hash": cf.row_hash(projected, exclude=cf.ROW_HASH_EXCLUDE | {"tenant"}),
        }
    )
