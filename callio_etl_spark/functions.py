"""Scalar / derived-column operators (SURVEY.md section 2.2, P1-P18).

Each builder returns a Column (or list of Columns) so it composes into any
DataFrame plan and stays inside whole-stage codegen — no Python UDFs in the
hot path. Reference citations point into /root/reference/callio_etl/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

HCM_TZ = "Asia/Ho_Chi_Minh"

#: Volatile columns excluded from the row hash (utils.py:49-52).
ROW_HASH_EXCLUDE = {
    "row_hash",
    "updateTime",
    "createTime",
    "updatedAt",
    "createdAt",
    "NgayTao",
    "NgayUpdate",
    "NgayAssign",
}


def project_with_null_backfill(df: DataFrame, columns: list[str]) -> DataFrame:
    """P1 — fixed-column projection, missing columns added as typed NULLs.

    Reference: runner.py:114-133 (customer), 268-282 (call log) reindexes the
    pandas frame to a declared column list. Spark-first: a select list; the
    plan stays a pure projection so column pruning reaches the scan.
    """
    present = set(df.columns)
    return df.select(
        *[F.col(c) if c in present else F.lit(None).cast("string").alias(c) for c in columns]
    )


def struct_field(col: str, *path: str) -> Column:
    """P2/P3/P4 — nested struct field extraction (utils.py:158-203).

    The reference `.apply`s safe_eval + dict.get per row; Spark-first this is a
    plain nested-field reference that codegens to a struct getter.
    """
    out = F.col(col)
    for p in path:
        out = out.getField(p)
    return out


def struct_or_scalar(col: Column, field: str) -> Column:
    """P2 variant — `user.group` may be a struct `{_id: ...}` or already the
    scalar id (utils.py:190-203): coalesce the struct getter with the raw value.
    Caller ensures `col` is parsed; for stringly inputs use parse_permissive.
    """
    return F.coalesce(col.getField(field).cast("string"), col.cast("string"))


def custom_field_pick(custom_fields: Column, key: str) -> Column:
    """P5 — array-of-struct lookup (utils.py:104-155, applied runner.py:110-112).

    Find items whose lowercased/trimmed `key` matches, take the first non-null
    of the value candidates, listify, trim, order-preserving dedupe, join with
    " | ". Pure higher-order functions — runs vectorized JVM-side; the
    reference does this with a per-row Python loop.
    """
    matches = F.filter(
        custom_fields, lambda x: F.lower(F.trim(x.getField("key"))) == F.lit(key.lower())
    )
    # Serialize the matched item so the value candidates can be probed without
    # requiring every field to exist in the struct schema (payload drift —
    # section 1.3); JSON-path misses are NULLs, like the reference's dict.get.
    item_json = F.to_json(matches.getItem(0))
    raw = F.coalesce(
        *[F.get_json_object(item_json, f"$.{f}") for f in ("val", "value", "values", "text", "name")]
    )
    # utils.py:138-145 — val may itself be a list; otherwise treat as one
    # (possibly '|'-separated) scalar string.
    vals = F.when(
        raw.startswith("["), F.from_json(raw, "array<string>")
    ).otherwise(F.split(raw, r"\s*\|\s*"))
    cleaned = F.array_distinct(
        F.filter(F.transform(vals, lambda v: F.trim(v)), lambda v: v != "")
    )
    return F.array_join(cleaned, " | ")


def parse_permissive(col: Column, schema: str) -> Column:
    """P6 — permissive literal parse (safe_eval, utils.py:16-26).

    Two arms like the reference's json.loads -> ast.literal_eval ladder,
    both JVM-side:

    1. `from_json` on the RAW string — the json.loads arm. JSON payloads
       (including apostrophes inside double-quoted strings) parse here.
    2. Fallback for Python-repr strings: replace only STRUCTURAL single
       quotes (those adjacent to ``{ [ , :`` on the open side or
       ``} ] , :`` on the close side) with double quotes, then parse.
       Apostrophes inside values — ``{'name': "O'Brien"}`` — are between
       word characters, so they survive untouched; Python's repr itself
       double-quotes any string containing a single quote, and
       double-quoted segments are already JSON-valid.

    Narrowed contract (documented, matching the fixtures): a DOUBLE quote
    embedded inside a single-quoted Python string (``{'say': 'he said
    "hi"'}``) still breaks arm 2 — that shape needs real escaping, which
    means a Python parse; the reference's corpus never produces it (repr
    would single-quote such strings, which arm 2 handles).
    """
    json_arm = F.from_json(col, schema)
    opened = F.regexp_replace(col, r"([\{\[,:]\s*)'", '$1"')
    normalized = F.regexp_replace(opened, r"'(\s*[\}\],:])", '"$1')
    return F.coalesce(json_arm, F.from_json(normalized, schema))


def row_hash(df: DataFrame, exclude: set[str] | None = None) -> Column:
    """P7 — deterministic change-detection hash (utils.py:46-66; applied
    runner.py:137, 302, 335, 351).

    The reference MD5s a sorted-key JSON dump of the row minus volatile
    columns. Byte parity with pandas' JSON rendering is not meaningful across
    engines (SURVEY section 7.5), so the rebuild defines the hash as MD5 over a
    canonical unit-separator join of the stable columns sorted by name. It is
    an internal change-detection key: stable across runs and column order,
    never oracle-compared byte-for-byte against the reference.
    """
    exclude = ROW_HASH_EXCLUDE if exclude is None else exclude
    cols = sorted(c for c in df.columns if c not in exclude)
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    return F.md5(F.concat_ws("\x1f", *parts))


def epoch_ms_to_utc_date(col: Column) -> Column:
    """P8 — epoch-ms -> UTC DATE (runner.py:135-136, 300)."""
    return F.to_date(F.timestamp_millis(col.cast("string").try_cast("long")))


def ts_to_local_date(col: Column, tz: str = HCM_TZ) -> Column:
    """P9 over an already-typed timestamp column."""
    return F.to_date(F.from_utc_timestamp(col, tz))


def norm_string(col: Column) -> Column:
    """P12 — NULLIF(TRIM(SAFE_CAST(x AS STRING)), '') (runner.py:802)."""
    return F.nullif(F.trim(col.cast("string")), F.lit(""))


def yyyymm_from_ts(col: Column) -> Column:
    """P17 — yyyymm key (utils.py:69-80)."""
    return F.date_format(col, "yyyyMM")


def iso_week_key(col: Column) -> Column:
    """P17 — ISO week key `IYYY-IW` (utils.py:82-90)."""
    return F.concat_ws(
        "-",
        F.date_part(F.lit("YEAROFWEEK"), col).cast("string"),
        F.lpad(F.weekofyear(col).cast("string"), 2, "0"),
    )


def week_start_vn(col: Column) -> Column:
    """P17 — Monday week start in UTC+7 (utils.py:92-101)."""
    return F.to_date(F.date_trunc("week", F.from_utc_timestamp(col, HCM_TZ)))


def ranked_topk(df: DataFrame, order_cols: list, k: int, out_col: str = "rank") -> DataFrame:
    """Global top-k WITH rank numbers, without ranking the whole input in
    one task: a bare ``row_number() OVER (ORDER BY ...)`` plans as a
    single-partition WindowExec that sorts the entire table in one task —
    the classic scale cliff. Instead:

    1. ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject —
       per-partition k-heaps merged on the driver (reservoir_sample's
       shape), so no task ever holds more than k rows;
    2. ranks are then assigned by a window over the surviving k rows only.
       That window's input is bounded by the design constant ``k`` (not by
       the data). The partition key is ``spark_partition_id()`` over an
       explicit ``coalesce(1)``: constant in value (every surviving row
       sits in partition 0) but NOT foldable, so Catalyst cannot
       constant-fold the partition spec away into the unpartitioned
       WindowExec whose single-task warning this helper exists to avoid
       (a bare ``F.lit(0)`` partition key IS folded away and warns).

    ``order_cols`` must be a total order (unique tiebreaker) for the ranks
    to be deterministic."""
    from pyspark.sql import Window

    top = df.orderBy(*order_cols).limit(k).coalesce(1)
    w = Window.partitionBy(F.spark_partition_id()).orderBy(*order_cols)
    return top.withColumn(out_col, F.row_number().over(w).cast("long"))
