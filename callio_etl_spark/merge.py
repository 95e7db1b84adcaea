"""MERGE-upsert emulation (SURVEY.md section 2.5, J8-J11; section 4 custom work).

The reference delegates MERGE to BigQuery (runner.py:163-199, 418-491,
605-728, 733-871). Spark core has no MERGE INTO against parquet, and this
container ships no Delta Lake, so the engine provides:

- ``merge_upsert``       pure-compute merge: FULL OUTER join + per-column
  conditional selection; returns the post-merge DataFrame. Oracle-checkable.
- ``merge_write_snapshot`` physical upsert into a snapshot table
  (snapshots.py): only the partitions in the merge window are read,
  merged and rewritten — a window partition the merge empties is
  dropped — in ONE manifest commit: the reference's
  `T.<date> BETWEEN part_min AND part_max` pruning conjunct in MERGE ON,
  with BigQuery's job atomicity. ``pipeline.run_tick`` is its
  incremental caller.

Correctness contract (as the reference enforces): the source must have ONE
row per key — run dedup.latest_per_key first (runner.py:165-173 does exactly
this with QUALIFY before MERGE).

Scale notes: the join shuffles on the merge key; with the partition-pruning
conjunct, only the window's partitions are read/written, so cost is bounded
by window size, not table size — the same trick the reference uses against
BigQuery. At 100 TB the target should additionally be bucketed by key so the
merge join is co-located.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import NumericType


@dataclass
class MergeSpec:
    """Declarative description of one MERGE statement.

    keys             equi-join merge key (ON clause)
    update_condition matched-arm gate (e.g. row_hash differs / ts newer) —
                     None = always update (J10)
    update_cols      columns the matched arm SETs; None = all source columns
    keep_existing    columns updated as IFNULL(T.c, S.c) — the J11 partial-
                     update 'keep existing' semantics (runner.py:856-863)
    """

    keys: list[str]
    update_condition: Column | None = None
    update_cols: list[str] | None = None
    keep_existing: list[str] = field(default_factory=list)


def merge_upsert(target: DataFrame, source: DataFrame, spec: MergeSpec) -> DataFrame:
    """Pure-compute MERGE: returns target-after-merge.

    Matched + condition true  -> source values (IFNULL(T,S) for keep_existing)
    Matched + condition false -> target values unchanged
    Target-only               -> kept
    Source-only               -> inserted (missing target cols as NULL)

    Reference: J8 runner.py:163-199 (conditional update), J10 605-728 (full
    update), J11 733-871 (partial update with keep-existing).
    """
    # Row-presence markers: detecting side presence via key IS NULL would
    # misclassify rows whose merge key is legitimately NULL (the join is
    # null-safe, so NULL keys match) — a target-only row with a NULL first
    # key would read as source-only and have its data wiped.
    t = target.withColumn("__t", F.lit(1)).alias("T")
    s = source.withColumn("__s", F.lit(1)).alias("S")
    on = [F.col(f"T.{k}").eqNullSafe(F.col(f"S.{k}")) for k in spec.keys]
    joined = t.join(s, _and_all(on), "full_outer")

    matched = F.col("T.__t").isNotNull() & F.col("S.__s").isNotNull()
    src_only = F.col("T.__t").isNull()
    do_update = matched & (spec.update_condition if spec.update_condition is not None else F.lit(True))

    update_cols = set(spec.update_cols or source.columns)
    out_cols: list[Column] = []
    target_cols = list(target.columns)
    src_cols = set(source.columns)
    for c in target_cols:
        if c in spec.keys:
            expr = F.coalesce(F.col(f"T.{c}"), F.col(f"S.{c}"))
        elif c not in src_cols:
            expr = F.col(f"T.{c}")  # source lacks it: unchanged / NULL on insert
        elif c in spec.keep_existing:
            expr = (
                F.when(do_update, F.ifnull(F.col(f"T.{c}"), F.col(f"S.{c}")))
                .when(src_only, F.col(f"S.{c}"))
                .otherwise(F.col(f"T.{c}"))
            )
        elif c in update_cols:
            expr = (
                F.when(do_update, F.col(f"S.{c}"))
                .when(src_only, F.col(f"S.{c}"))
                .otherwise(F.col(f"T.{c}"))
            )
        else:
            expr = F.when(src_only, F.col(f"S.{c}")).otherwise(F.col(f"T.{c}"))
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)


def _and_all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def merge_write_snapshot(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    spec: MergeSpec,
    partition_col: str,
    part_min=None,
    part_max=None,
    keep_snapshots: int = 2,
    part_values=None,
) -> int:
    """Physical MERGE into a SNAPSHOT-isolated table (snapshots.py): the
    windowed target is read from the live manifest, merged with
    merge_upsert, and committed as ONE manifest publish — so a reader
    racing the MERGE sees the whole pre- or post-merge table, and the
    pre-merge version stays pinnable for keep_snapshots more commits.
    This is BigQuery-atomic MERGE parity (reference runner.py:163-199,
    174-176, 699-701) on a plain filesystem.

    Window contract: only partitions in [part_min, part_max] are read and
    rewritten (stray source rows outside the window fail fast — they would
    otherwise clobber partitions excluded from the windowed target);
    partitions outside the window carry over by manifest reference at
    zero I/O. Without a window the whole table is merged. Returns the
    committed snapshot version.

    ``part_values`` is the SET-valued window (mutually exclusive with
    part_min/part_max): only the named partition values — typically the
    exact touched set, e.g. the id buckets a delta hashes into — are
    read and rewritten, so the merge I/O is O(touched partitions) even
    when the touched set is not a contiguous range. Same stray-row
    fail-fast.

    The window is rewritten exactly: every window partition the head
    holds goes into ``retire_leaves``, so one the merge leaves empty (a
    key moved to another window partition) is dropped in the same
    commit instead of carrying its stale rows forward. No window holds
    the NULL partition."""
    from callio_etl_spark.snapshots import (
        _leaf_name,
        _leaf_value_in,
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_read,
    )

    if part_values is not None and (
        part_min is not None or part_max is not None
    ):
        raise ValueError(
            "merge_write_snapshot: pass part_values OR part_min/part_max, "
            "not both"
        )
    target = snapshot_read(spark, target_path)
    if part_values is not None:
        vals = list(part_values)
        if not vals:
            raise ValueError(
                "merge_write_snapshot: part_values must be non-empty — an "
                "empty window would classify every source row as stray "
                "and merge nothing; skip the merge for an empty delta "
                "instead"
            )
        in_window = F.col(partition_col).isin(vals)
        window = f"{sorted(vals, key=str)!r}"
        # partial probe: O(window) metadata, never the full enumeration
        names = [
            _leaf_name(spark, partition_col, v)
            for v in set(vals)
            if v is not None
        ]
        held = snapshot_manifest(spark, target_path, leaves=names)
        retire = [n for n in names if n in held["partitions"]]
    elif part_min is not None:
        in_window = F.col(partition_col).between(part_min, part_max)
        window = f"[{part_min}, {part_max}]"
        # a leaf value compares in the bounds' type, while Spark compares
        # a numeric column numerically: string bounds on a numeric column
        # decide no leaf (a misjudged leaf would be retired unread)
        decidable = isinstance(
            target.schema[partition_col].dataType, NumericType
        ) == (
            isinstance(part_min, (int, float))
            and not isinstance(part_min, bool)
        )
        retire = [
            leaf
            for leaf in snapshot_manifest(spark, target_path)["partitions"]
            if decidable
            and leaf.split("=", 1)[0] == partition_col
            and _leaf_value_in(spark, leaf, part_min, part_max) is True
        ]
    else:
        in_window = None
        retire = list(snapshot_manifest(spark, target_path)["partitions"])
    if in_window is not None:
        stray = source.where(~in_window | F.col(partition_col).isNull())
        if stray.limit(1).count() > 0:
            raise ValueError(
                f"merge_write_snapshot: source rows outside the merge "
                f"window {window} on {partition_col!r} would clobber "
                f"partitions excluded from the windowed target"
            )
        target = target.where(in_window)
    merged = merge_upsert(target, source, spec)
    return snapshot_partition_overwrite(
        spark,
        merged,
        target_path,
        partition_col,
        keep_snapshots=keep_snapshots,
        retire_leaves=retire or None,
    )
