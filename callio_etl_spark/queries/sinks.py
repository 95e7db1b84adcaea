"""Sink-path roundtrip queries (SURVEY.md section 2.1, S8-S13): the physical
write operators exercised end to end INSIDE an oracle-checked query, so the
sink family can earn driver correctness rows, not just unit coverage.

Each query writes deterministic slices of the testdata through the io.py
and snapshots.py sink operators into a per-invocation temp directory, reads the files back,
and returns a compact aggregate whose oracle recomputes the expected state
in pure SQL over the source tables. A wrong append mode, broken schema
merge, mis-scoped delete, or partition clobber changes the aggregate and
breaks the hash match.

Scale notes: the writes are the same code paths production uses
(whole-table appends with schema union, partitioned snapshot commits and
merge-on-read deletes); the roundtrip data here is sf-sized, and every
aggregate is a map-combined hash agg over the read-back — nothing
driver-side except the temp-dir bookkeeping.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from callio_etl_spark.io import stage_temp_view
from callio_etl_spark.registry import register
from callio_etl_spark.tables import load_table


def _tmp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=f"callio_{prefix}_")


def _materialize_and_clean(result: DataFrame, tmp_root: str) -> DataFrame:
    """Collect the (aggregate-sized) result, remove the roundtrip temp dir,
    and return the rows as a local DataFrame with the identical schema.
    Harness runs execute each query several times (warmup + best-of-3 +
    oracle compare) — without this, every run leaked a full parquet copy of
    the roundtrip table under /tmp."""
    rows = result.collect()
    shutil.rmtree(tmp_root, ignore_errors=True)
    return result.sparkSession.createDataFrame(rows, result.schema)


@register(
    "sink_append_evolve",
    oracle="""
WITH s1 AS (
  SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
), s2 AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 7 = 1
), u AS (
  SELECT * FROM s1 UNION ALL SELECT * FROM s2
)
SELECT CAST(COUNT(*) AS BIGINT)              AS n_rows,
       CAST(COUNT(o_totalprice) AS BIGINT)   AS n_evolved,
       CAST(SUM(o_orderkey) AS BIGINT)       AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
FROM u
""",
    tags=["S8", "S9", "S10", "S13", "sink"],
)
def sink_append_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9 roundtrip + S13/S10 readback: bootstrap a whole snapshot
    table with the truncate sink (``snapshot_overwrite``, 2-column
    slice), append a second slice that ADDS the o_totalprice column
    (``snapshot_append``, whose committed schema is the union), read it
    back so the evolved column surfaces (NULL for pre-evolution rows),
    stage the readback as a temp view, and aggregate it through the SQL
    channel. The oracle rebuilds the expected post-evolution table in
    SQL; an append that overwrote, a union that dropped the new column,
    or NULL backfill applied to the wrong slice all break the hash."""
    from callio_etl_spark.snapshots import (
        snapshot_append,
        snapshot_overwrite,
        snapshot_read,
    )

    root = _tmp("append")
    path = f"{root}/orders_t"
    o = load_table(spark, sf_dir, "orders")
    snapshot_overwrite(
        spark,
        o.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey", "o_custkey"),
        path,
    )
    snapshot_append(
        spark,
        o.where(F.col("o_orderkey") % 7 == 1).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        path,
        None,
    )
    back = snapshot_read(spark, path)
    view = stage_temp_view(back, f"stg_sink_{uuid.uuid4().hex}")
    result = spark.sql(
        f"""
        SELECT CAST(COUNT(*) AS BIGINT)            AS n_rows,
               CAST(COUNT(o_totalprice) AS BIGINT) AS n_evolved,
               SUM(o_orderkey)                     AS key_sum,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                                   AS price_sum
        FROM {view}
        """
    )
    return _materialize_and_clean(result, root)


#: S11 delete window on event_id (inclusive BETWEEN, as the reference's
#: DELETE WHERE f BETWEEN s AND e).
DELETE_LO, DELETE_HI = 100, 499


@register(
    "sink_partition_delete",
    oracle=f"""
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT)      AS n,
       CAST(SUM(e.event_id) AS BIGINT) AS id_sum
FROM events e
WHERE NOT (e.event_id BETWEEN {DELETE_LO} AND {DELETE_HI})
GROUP BY 1
""",
    tags=["S11", "S12", "sink"],
)
def sink_partition_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12/S11 roundtrip: write events as a day-partitioned snapshot
    table with in-file clustering sort, range-delete an event_id window
    (merge-on-read delete files keyed on event_id: no data file is
    rewritten), read the live snapshot back, and aggregate per
    event_type. The oracle filters the source directly — a delete that
    touched the wrong rows, dropped a partition wholesale, or missed
    rows in some partition breaks the match."""
    from callio_etl_spark.snapshots import (
        snapshot_delete_rows,
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("partdel")
    path = f"{root}/events_t"
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.to_date("ts").alias("d"),
    )
    snapshot_partition_overwrite(
        spark, e, path, "d", cluster_cols=["event_type", "event_id"]
    )
    snapshot_delete_rows(
        spark,
        path,
        F.col("event_id").between(DELETE_LO, DELETE_HI),
        keys=["event_id"],
    )
    back = snapshot_read(spark, path)
    result = back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("event_id").alias("id_sum"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_versioned_restore",
    oracle="""
WITH g1 AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 5 = 0
), g2 AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 5 <= 1
)
SELECT CAST((SELECT COUNT(*) FROM g1) AS BIGINT)          AS n_live,
       CAST((SELECT SUM(o_orderkey) FROM g1) AS BIGINT)   AS key_sum_live,
       CAST((SELECT COUNT(*) FROM g2) AS BIGINT)          AS n_archived,
       CAST((SELECT SUM(o_orderkey) FROM g2) AS BIGINT)   AS key_sum_archived
""",
    tags=["S9", "sink", "versioning"],
)
def sink_versioned_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioning roundtrip (BigQuery time-travel parity, which
    the reference's MERGE targets get implicitly): commit generation 1
    and generation 2 as whole-table snapshots, RESTORE v1 as the live
    table (a new version; gen-2 stays retained), then aggregate the
    post-restore live table and the time-travel read of gen-2. The
    oracle recomputes both generations from the source — a restore that
    reads the wrong snapshot, loses the displaced version, or leaves a
    torn table breaks the hash."""
    from callio_etl_spark.snapshots import (
        snapshot_overwrite,
        snapshot_read,
        snapshot_restore,
        snapshot_versions,
    )

    root = _tmp("versioned")
    path = f"{root}/orders_v"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    snapshot_overwrite(
        spark, o.where(F.col("o_orderkey") % 5 == 0), path, keep_snapshots=3
    )
    snapshot_overwrite(
        spark, o.where(F.col("o_orderkey") % 5 <= 1), path, keep_snapshots=3
    )
    snapshot_restore(spark, path, 1, keep_snapshots=3)  # back to gen 1
    live = snapshot_read(spark, path)
    archived = snapshot_read(
        spark, path, version=snapshot_versions(spark, path)[-2]
    )
    result = live.agg(
        F.count("*").cast("long").alias("n_live"),
        F.sum("o_orderkey").alias("key_sum_live"),
    ).crossJoin(
        archived.agg(
            F.count("*").cast("long").alias("n_archived"),
            F.sum("o_orderkey").alias("key_sum_archived"),
        )
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_version_diff",
    oracle="""
WITH g1 AS (
  SELECT o_orderkey AS k, o_totalprice AS p FROM orders WHERE o_orderkey % 3 = 0
), g2 AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey % 3 <= 1
),
d AS (
  SELECT COALESCE(g2.k, g1.k) AS k,
         CASE WHEN g1.k IS NULL THEN 'added'
              WHEN g2.k IS NULL THEN 'removed'
              WHEN g2.p <> g1.p THEN 'changed'
              ELSE 'same' END AS change
  FROM g1 FULL OUTER JOIN g2 ON g2.k = g1.k
)
SELECT change,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT)   AS key_sum
FROM d GROUP BY change
""",
    tags=["sink", "versioning", "cdc"],
)
def sink_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC: commit generation 1 as a whole-table snapshot,
    overwrite with a generation that adds, removes, and mutates rows, then
    DIFF THE LIVE TABLE AGAINST ITS PREVIOUS VERSION (full outer on the key,
    added/removed/changed/same classification) — the audit query time
    travel exists for ('what changed since yesterday's commit?'), the
    same shape BigQuery users run against FOR SYSTEM_TIME AS OF. The
    oracle recomputes both generations from source; a restore that reads
    the wrong snapshot or a diff that misclassifies breaks the hash."""
    from callio_etl_spark.snapshots import snapshot_overwrite, snapshot_read

    root = _tmp("vdiff")
    path = f"{root}/orders_d"
    o = load_table(spark, sf_dir, "orders")
    g1 = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
    )
    g2 = o.where(F.col("o_orderkey") % 3 <= 1).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .alias("p"),
    )
    snapshot_overwrite(spark, g1, path, keep_snapshots=2)
    snapshot_overwrite(spark, g2, path, keep_snapshots=2)
    live = snapshot_read(spark, path).select(
        F.col("k").alias("lk"), F.col("p").alias("lp")
    )
    snap = snapshot_read(spark, path, version=1).select(
        F.col("k").alias("sk"), F.col("p").alias("sp")
    )
    d = live.join(snap, F.col("lk") == F.col("sk"), "full_outer").select(
        F.coalesce(F.col("lk"), F.col("sk")).alias("k"),
        F.when(F.col("sk").isNull(), "added")
        .when(F.col("lk").isNull(), "removed")
        .when(F.col("lp") != F.col("sp"), "changed")
        .otherwise("same")
        .alias("change"),
    )
    result = d.groupBy("change").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").alias("key_sum"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_compact_vacuum",
    oracle="""
WITH s AS (
  SELECT o_orderkey, o_custkey, o_orderpriority
  FROM orders WHERE o_orderkey % 4 = 0
)
SELECT CAST(COUNT(*) AS BIGINT)                                    AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT)                             AS key_sum,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS BIGINT)                 AS rows_compacted,
       CAST(1 AS BIGINT)                                           AS files_after,
       CAST(1 AS BIGINT)                                           AS versions_removed,
       CAST(1 AS BIGINT)                                           AS versions_after
FROM s
""",
    tags=["sink", "maintenance"],
)
def sink_compact_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance roundtrip — the OPTIMIZE + VACUUM pair every
    incremental lakehouse table needs on a schedule: write a partitioned
    snapshot table fragmented into many small files, compact ONE
    partition to a single file (siblings carry over), and vacuum a
    whole-table snapshot's history down to one older version. The aggregate
    re-reads the post-compaction table, so lost/duplicated rows, a
    clobbered sibling partition, or a vacuum that deleted the live
    snapshot all break the hash; the file and version counts are
    measured (not assumed) and compared against the deterministic
    expectation as literals."""
    from callio_etl_spark.io import _hadoop
    from callio_etl_spark.snapshots import (
        _leaf_toks,
        snapshot_compact_partition,
        snapshot_manifest,
        snapshot_overwrite,
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_vacuum,
        snapshot_versions,
    )

    root = _tmp("compact")
    path = f"{root}/orders_c"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    # the filtered input feeds FOUR sink actions (the fragmented write +
    # three whole-table generations) — pin it once instead of re-scanning
    # the orders parquet per action, the same move a user scheduling this
    # maintenance would make; the sinks' own staged-write work is
    # unchanged
    s = o.where(F.col("o_orderkey") % 4 == 0).persist()
    # fragment: 6 round-robin tasks x 5 priorities => ~6 files per
    # partition ("none": the default rebalance would write one per leaf)
    snapshot_partition_overwrite(
        spark, s.repartition(6), path, "o_orderpriority", distribution="none"
    )

    def _live_files() -> int:
        """Parquet files in the data dirs the live manifest lists for
        the 1-URGENT leaf (the compacted-away dirs linger until vacuum)."""
        leaf = "o_orderpriority=1-URGENT"
        n = 0
        for tok in _leaf_toks(snapshot_manifest(spark, path), leaf):
            jvm, fs, jpath = _hadoop(spark, f"{path}/{leaf}/{tok}")
            n += sum(
                1
                for st in fs.listStatus(jpath)
                if st.getPath().getName().endswith(".parquet")
            )
        return n

    files_before = _live_files()
    snapshot_compact_partition(spark, path, "1-URGENT", target_files=1)
    files_after = _live_files()
    n_compacted = (
        snapshot_read(spark, path)
        .where(F.col("o_orderpriority") == "1-URGENT")
        .count()
    )
    if not (files_before > 1 and files_after == 1):
        raise AssertionError(
            f"compaction contract broken: {files_before} -> {files_after} files"
        )

    vpath = f"{root}/orders_vac"
    base = s.select("o_orderkey", "o_custkey")
    for gen_mod in (0, 1, 2):  # three generations, all retained
        snapshot_overwrite(
            spark,
            base.where(F.col("o_custkey") % 3 <= gen_mod),
            vpath,
            keep_snapshots=3,
        )
    # keep the live version and one older: v1 goes
    removed = snapshot_vacuum(spark, vpath, keep_snapshots=2)
    # older versions still retained besides the live one
    versions_after = len(snapshot_versions(spark, vpath)) - 1
    s.unpersist()

    live = snapshot_read(spark, path)
    result = live.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
    ).select(
        "n_rows",
        "key_sum",
        F.lit(n_compacted).cast("long").alias("rows_compacted"),
        F.lit(files_after).cast("long").alias("files_after"),
        F.lit(len(removed)).cast("long").alias("versions_removed"),
        F.lit(versions_after).cast("long").alias("versions_after"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_snapshot_overwrite",
    oracle="""
WITH b AS (
  SELECT event_type, user_id % 10 AS bucket,
         COUNT(*) AS cnt, SUM(user_id) AS usum
  FROM events GROUP BY 1, 2
), c2 AS (
  SELECT event_type, user_id % 10 AS bucket,
         COUNT(*) AS cnt, SUM(user_id) AS usum
  FROM events WHERE event_type = 'click' AND event_id % 2 = 0 GROUP BY 1, 2
), final AS (
  SELECT * FROM b WHERE event_type NOT IN ('click', 'error')
  UNION ALL SELECT * FROM c2
)
SELECT f.event_type,
       CAST(COUNT(*) AS BIGINT)     AS n_buckets,
       CAST(SUM(f.cnt) AS BIGINT)   AS n_events,
       CAST(SUM(f.usum) AS BIGINT)  AS user_sum,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS v1_rows,
       CAST(2 AS BIGINT)            AS versions_now
FROM final f GROUP BY 1
""",
    tags=["sink", "snapshot"],
)
def sink_snapshot_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated table lifecycle end to end (snapshots.py — the
    manifest-committed layout with no mixed-read window; reference
    MERGE gets the same isolation from
    BigQuery's atomic jobs, runner.py:163-199): commit a partitioned
    aggregate table (v1), overwrite ONE partition's contents from a
    different deterministic slice (v2), metadata-delete another partition
    (v3), and re-read the LIVE snapshot through the manifest resolver.
    The aggregate breaks the hash if the overwrite leaked into sibling
    partitions, the carry-over dropped one, the delete touched data it
    shouldn't, or retention vacuumed the live snapshot; v1_rows is
    measured from the v1 read (not assumed) and versions_now proves
    retention kept exactly the newest two manifests after three commits.

    Scale: commits are O(affected partitions) renames + one manifest
    publish; the racing-reader isolation itself is pytest-proven
    (tests/test_snapshots.py), since a driver query cannot race itself."""
    from callio_etl_spark.snapshots import (
        snapshot_delete_partitions,
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_versions,
    )

    root = _tmp("snapshot")
    path = f"{root}/ev_snap"
    e = load_table(spark, sf_dir, "events")
    bucketed = e.groupBy(
        "event_type", (F.col("user_id") % 10).alias("bucket")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("user_id").alias("usum"),
    )
    snapshot_partition_overwrite(spark, bucketed, path, "event_type", keep_snapshots=2)
    v1_rows = snapshot_read(spark, path).count()
    click_half = (
        e.where((F.col("event_type") == "click") & (F.col("event_id") % 2 == 0))
        .groupBy("event_type", (F.col("user_id") % 10).alias("bucket"))
        .agg(F.count("*").alias("cnt"), F.sum("user_id").alias("usum"))
    )
    snapshot_partition_overwrite(spark, click_half, path, "event_type", keep_snapshots=2)
    snapshot_delete_partitions(spark, path, ["error"], keep_snapshots=2)
    versions_now = len(snapshot_versions(spark, path))

    live = snapshot_read(spark, path)
    result = (
        live.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("cnt").cast("long").alias("n_events"),
            F.sum("usum").cast("long").alias("user_sum"),
        )
        .select(
            "event_type",
            "n_buckets",
            "n_events",
            "user_sum",
            F.lit(v1_rows).cast("long").alias("v1_rows"),
            F.lit(versions_now).cast("long").alias("versions_now"),
        )
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_snapshot_cdc",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_custkey
  FROM orders WHERE o_orderkey % 4 = 0
), urgent AS (
  SELECT * FROM base WHERE o_orderpriority = '1-URGENT'
), v2 AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 5 = 0 THEN o_custkey + 1000000
              ELSE o_custkey END AS o_custkey
  FROM urgent WHERE o_orderkey % 3 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderpriority, o_custkey FROM urgent
  WHERE o_orderkey % 7 = 0
), changes AS (
  SELECT COALESCE(v2.o_orderkey, u.o_orderkey) AS k,
         CASE WHEN u.o_orderkey IS NULL THEN 'insert'
              WHEN v2.o_orderkey IS NULL THEN 'delete'
              WHEN v2.o_custkey <> u.o_custkey THEN 'update'
         END AS chg
  FROM v2 FULL OUTER JOIN urgent u ON v2.o_orderkey = u.o_orderkey
)
SELECT chg AS _change,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT)   AS key_sum
FROM changes WHERE chg IS NOT NULL
GROUP BY chg
""",
    tags=["sink", "snapshot", "cdc"],
)
def sink_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed roundtrip on the snapshot layout: commit a
    partitioned base table (v1), rewrite ONE partition with deletes
    (keys % 3 = 0 dropped), updates (custkey shifted for % 5 = 0), and
    inserts (shifted new keys), then derive snapshot_changes(v1 -> v2)
    and aggregate per change class. The oracle recomputes the same feed
    in pure SQL, so a CDC that misses a class, resurrects old values, or
    leaks rows from the untouched sibling partitions breaks the hash —
    and the metadata-pruning contract (only the rewritten partition is
    read) is plan-asserted in tests/test_snapshots.py."""
    from callio_etl_spark.snapshots import (
        snapshot_changes,
        snapshot_partition_overwrite,
    )

    root = _tmp("cdc")
    path = f"{root}/orders_cdc"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    )
    base = o.where(F.col("o_orderkey") % 4 == 0)
    snapshot_partition_overwrite(
        spark, base, path, "o_orderpriority", keep_snapshots=2
    )
    urgent = base.where(F.col("o_orderpriority") == "1-URGENT")
    survivors = urgent.where(F.col("o_orderkey") % 3 != 0).withColumn(
        "o_custkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_custkey") + 1_000_000
        ).otherwise(F.col("o_custkey")),
    )
    inserts = urgent.where(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    snapshot_partition_overwrite(
        spark,
        survivors.unionByName(inserts),
        path,
        "o_orderpriority",
        keep_snapshots=2,
    )
    ch = snapshot_changes(spark, path, 1, 2, keys=["o_orderkey"])
    result = ch.groupBy(F.col("_change")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )
    return _materialize_and_clean(result, root)


@register(
    "merge_upsert_snapshot",
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(o_orderdate AS DATE) AS d,
         substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS m
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
), s AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice,
         CAST(o_orderdate AS DATE) AS d,
         substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS m
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-12-01'
), wt AS (
  SELECT * FROM t WHERE m >= '1997-12'
), merged AS (
  SELECT
    COALESCE(wt.o_orderkey, s.o_orderkey) AS o_orderkey,
    CASE WHEN wt.o_orderkey IS NULL THEN s.o_orderstatus
         WHEN s.o_orderkey IS NOT NULL AND s.o_totalprice > wt.o_totalprice THEN s.o_orderstatus
         ELSE wt.o_orderstatus END AS o_orderstatus,
    CASE WHEN wt.o_orderkey IS NULL THEN s.o_totalprice
         WHEN s.o_orderkey IS NOT NULL AND s.o_totalprice > wt.o_totalprice THEN s.o_totalprice
         ELSE wt.o_totalprice END AS o_totalprice,
    CASE WHEN wt.o_orderkey IS NULL THEN s.m
         WHEN s.o_orderkey IS NOT NULL AND s.o_totalprice > wt.o_totalprice THEN s.m
         ELSE wt.m END AS m
  FROM wt FULL OUTER JOIN s ON wt.o_orderkey = s.o_orderkey
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, m
  FROM t WHERE m < '1997-12'
)
SELECT m,
       CAST(COUNT(*) AS BIGINT)  AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_updated,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS price_sum
FROM merged GROUP BY m
""",
    tags=["J8", "sink", "snapshot"],
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 through the snapshot store end to end — the reference's
    BigQuery-atomic conditional MERGE (runner.py:163-199) with the same
    isolation on a plain filesystem: the pre-merge warehouse lands as a
    month-partitioned snapshot table, merge_write_snapshot merges the
    incremental batch into the [1997-12, 2002-12] window (one manifest
    commit; earlier months carry over by reference), and the LIVE
    snapshot is read back and aggregated per month (count / key sum /
    update-arm count / DECIMAL-exact price sum — bounded at |months|
    rows, nothing table-sized on the driver). The oracle recomputes the
    post-merge state (windowed FULL OUTER + untouched months), so a
    merge that leaked into carried-over months, dropped them, or applied
    the wrong arm breaks the hash — and the pre-merge version remains
    pinnable (asserted here) for a racing reader."""
    from callio_etl_spark.merge import MergeSpec, merge_write_snapshot
    from callio_etl_spark.queries.merge_queries import _source, _target
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_versions,
    )

    root = _tmp("merge_snap")
    path = f"{root}/orders_ms"
    month = F.substring(F.col("d").cast("string"), 1, 7).alias("m")
    target = _target(spark, sf_dir).select("*", month)
    source = _source(spark, sf_dir).select("*", month)
    snapshot_partition_overwrite(spark, target, path, "m", keep_snapshots=2)
    pre_rows = snapshot_read(spark, path).count()
    merge_write_snapshot(
        spark,
        path,
        source,
        MergeSpec(
            keys=["o_orderkey"],
            update_condition=F.col("S.o_totalprice") > F.col("T.o_totalprice"),
        ),
        "m",
        part_min="1997-12",
        part_max="2002-12",
    )
    if len(snapshot_versions(spark, path)) != 2:
        raise AssertionError("merge must commit exactly one new version")
    if snapshot_read(spark, path, version=1).count() != pre_rows:
        raise AssertionError("pre-merge snapshot must stay pinnable intact")
    result = (
        snapshot_read(spark, path)
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum((F.col("o_orderstatus") == "U").cast("long")).alias(
                "n_updated"
            ),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("price_sum"),
        )
    )
    return _materialize_and_clean(result, root)


@register(
    "ivm_refresh_agg",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 4 = 0
), urgent AS (
  SELECT * FROM base WHERE o_orderpriority = '1-URGENT'
), v2 AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM base WHERE o_orderpriority <> '1-URGENT'
  UNION ALL
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 13
              ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 7.5
              ELSE o_totalprice END AS o_totalprice
  FROM urgent WHERE o_orderkey % 3 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
  FROM urgent WHERE o_orderkey % 7 = 0
)
SELECT CAST(o_custkey % 50 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM v2 GROUP BY 1
""",
    tags=["sink", "snapshot", "cdc", "ivm"],
)
def ivm_refresh_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance end to end: materialize a bucketed
    aggregate of snapshot v1 (count + DECIMAL-exact price sum per
    custkey-bucket), rewrite ONE partition with deletes (% 3), price
    updates (% 5, +7.5), bucket-migrating updates (% 11, custkey +13)
    and inserts (% 7, shifted keys) as v2, then REFRESH the view from
    the four-class change feed alone (snapshot_refresh_agg: subtract
    preimages, add postimages) — the v2 table itself is never
    re-aggregated. The oracle computes the v2 aggregate directly, so a
    refresh that misses a class, drops a migrated bucket's retraction,
    or double-counts an update breaks the hash. Cost model at 100 TB:
    feed reads only the one rewritten partition (manifest-diff pruning),
    delta agg is delta-sized, final join is |view| = 50 rows here,
    |groups| in general — never |table|. Reference parity: the
    incremental form of the reference's scheduled fact rebuilds
    (/root/reference/callio_etl/runner.py full-refresh path)."""
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_refresh_agg,
    )

    root = _tmp("ivm")
    path = f"{root}/orders_ivm"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice"
    )
    base = o.where(F.col("o_orderkey") % 4 == 0)
    snapshot_partition_overwrite(
        spark, base, path, "o_orderpriority", keep_snapshots=2
    )

    def prep(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", (F.col("o_custkey") % 50).cast("int")
        ).withColumn("price", F.col("o_totalprice").cast("decimal(18,6)"))

    view1 = (
        prep(snapshot_read(spark, path, version=1))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("price").alias("sum_price"),
        )
    )
    urgent = base.where(F.col("o_orderpriority") == "1-URGENT")
    survivors = (
        urgent.where(F.col("o_orderkey") % 3 != 0)
        .withColumn(
            "o_custkey",
            F.when(
                F.col("o_orderkey") % 11 == 0, F.col("o_custkey") + 13
            ).otherwise(F.col("o_custkey")),
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 7.5
            ).otherwise(F.col("o_totalprice")),
        )
    )
    inserts = urgent.where(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    snapshot_partition_overwrite(
        spark,
        survivors.unionByName(inserts),
        path,
        "o_orderpriority",
        keep_snapshots=2,
    )
    refreshed = snapshot_refresh_agg(
        spark,
        path,
        1,
        2,
        keys=["o_orderkey"],
        view_old=view1,
        group_cols=["bucket"],
        sum_cols=["price"],
        prep=prep,
    )
    result = refreshed.select(
        "bucket",
        "n",
        F.col("sum_price").cast("double").alias("sum_price"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_zorder_skip",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
), rng AS (
  SELECT MIN(o_custkey) AS mn, MAX(o_custkey) AS mx FROM base
), win AS (
  SELECT mn + ((mx - mn) * 3) // 10 AS lo,
         mn + ((mx - mn) * 4) // 10 AS hi
  FROM rng
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS price_sum
FROM base, win
WHERE o_custkey BETWEEN lo AND hi
GROUP BY o_orderpriority
""",
    tags=["sink", "snapshot", "zorder"],
)
def sink_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout roundtrip: commit orders as a z-ordered snapshot
    (Morton curve over (o_custkey, o_totalprice), many files per
    partition via max_records_per_file, per-FILE [min, max] stats in
    the manifest), then answer a custkey-range question through
    snapshot_read(between=...) — which must skip files inside every
    kept partition (asserted: strictly fewer input files than the full
    scan) — and apply the exact row filter on top. The oracle computes
    the same windowed aggregate straight from the source table, so a
    skip that drops a file it needed (or double-reads one) breaks the
    hash. 100 TB story: this is Iceberg's two-tier pruning — manifest
    partition ranges first, file ranges second — so a point-ish query
    on a z-ordered dimension touches O(matching files), not O(table);
    the clustering shuffle is a one-time write-side repartitionByRange,
    and file stats cost one metadata-sized aggregate at commit."""
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("zorder")
    path = f"{root}/orders_z"
    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice")
    )
    mn, mx = base.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    lo = mn + ((mx - mn) * 3) // 10
    hi = mn + ((mx - mn) * 4) // 10
    rows_per_file = max(50, base.count() // 40)
    snapshot_partition_overwrite(
        spark,
        base,
        path,
        "o_orderpriority",
        stats_cols=["o_custkey"],
        zorder_cols=["o_custkey", "o_totalprice"],
        file_stats=True,
        max_records_per_file=rows_per_file,
        keep_snapshots=2,
    )
    n_total = len(snapshot_read(spark, path).inputFiles())
    pruned = snapshot_read(spark, path, between=("o_custkey", lo, hi))
    if not (0 < len(pruned.inputFiles()) < n_total):
        raise AssertionError(
            f"file skipping ineffective: {len(pruned.inputFiles())}/{n_total}"
        )
    result = (
        pruned.where(F.col("o_custkey").between(lo, hi))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("price_sum"),
        )
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_bloom_skip",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1
), probe AS (
  SELECT MAX(o_orderkey) AS pk FROM base WHERE o_orderkey % 21 = 0
)
SELECT o_orderkey, o_orderpriority, o_custkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS DOUBLE) AS price
FROM base, probe
WHERE o_orderkey = pk
""",
    tags=["sink", "snapshot", "bloom"],
)
def sink_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point-lookup roundtrip: commit orders as a snapshot
    whose layout is deliberately NOT clustered by o_orderkey (random
    repartition + many files per partition), with per-FILE bloom
    bitmaps on o_orderkey in the manifest, then answer a point lookup
    through ``snapshot_read(point=...)`` — which must skip files
    (asserted: strictly fewer input files than the full scan; min/max
    could never skip here because every file's key range spans ~the
    whole table) — and apply the exact row filter on top. The probe key
    is derived deterministically on both sides (max odd orderkey
    divisible by 21), so the oracle recomputes the same single row
    straight from the source; a bitmap that drops the file holding the
    key (false negative) returns zero rows and breaks the hash. 100 TB
    story: this is Delta/Iceberg's bloom-filter index — the pruning
    tier for needle-in-haystack lookups on high-cardinality keys the
    table is not sorted by, where z-order file ranges are useless; the
    probe costs zero Spark jobs (driver-side md5 against manifest
    bitmaps, parity-tested against the write-side JVM expressions) and
    the commit pays one metadata-sized aggregate."""
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("bloom")
    path = f"{root}/orders_b"
    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice")
    )
    pk = base.where(F.col("o_orderkey") % 21 == 0).agg(
        F.max("o_orderkey")
    ).first()[0]
    rows_per_file = max(50, base.count() // 40)
    snapshot_partition_overwrite(
        spark,
        base.repartition(8),  # layout uncorrelated with the key
        path,
        "o_orderpriority",
        bloom_cols=["o_orderkey"],
        max_records_per_file=rows_per_file,
        keep_snapshots=2,
    )
    n_total = len(snapshot_read(spark, path).inputFiles())
    pruned = snapshot_read(spark, path, point=("o_orderkey", pk))
    if not (0 < len(pruned.inputFiles()) < n_total):
        raise AssertionError(
            f"bloom skipping ineffective: {len(pruned.inputFiles())}/{n_total}"
        )
    result = pruned.where(F.col("o_orderkey") == pk).select(
        "o_orderkey",
        "o_orderpriority",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,6)").cast("double").alias("price"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_bucketed_join",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 3 = 0
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM o JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=["sink", "bucketed", "join"],
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side co-location: persist both join sides as BUCKETED,
    sorted catalog tables (``bucketBy(16, key)`` + ``sortBy``), then
    join them with a forced sort-merge join and assert the executed
    plan contains NO Exchange — Spark's bucketed scan satisfies the
    join's required distribution straight off disk. (The per-side
    local Sort remains: since SPARK-28173 the scan only claims
    sortedness with one file per bucket under a legacy flag; the sort
    is node-local CPU, not the network cost bucketing exists to kill.)
    The oracle recomputes the joined aggregate from
    the raw tables, so a bucket routing bug (row hashed to the wrong
    bucket would silently DROP pairs under a shuffle-free join) breaks
    the hash, not just the plan shape. 100 TB story: the fact-dim join
    that runs every day shuffles the full fact table every run unless
    the layout already agrees with the join key — bucketing pays that
    shuffle ONCE at write time and amortizes it over every subsequent
    join/aggregation on the key (Hive/Spark bucketing, Iceberg's
    bucket partition transform); at 1000 executors this removes the
    single largest network cost in the pipeline. The plan gate is the
    contract: if a config regression re-introduces the exchange, the
    query fails loudly rather than silently paying the shuffle."""
    suffix = uuid.uuid4().hex[:8]
    t_ord, t_cust = f"b_ord_{suffix}", f"b_cust_{suffix}"
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_custkey")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    try:
        (
            o.write.format("parquet")
            .bucketBy(16, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable(t_ord)
        )
        (
            c.write.format("parquet")
            .bucketBy(16, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable(t_cust)
        )
        bo, bc = spark.table(t_ord), spark.table(t_cust)
        joined = bo.hint("merge").join(
            bc, bo["o_custkey"] == bc["c_custkey"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "SortMergeJoin" not in plan:
            raise AssertionError("bucketed join did not plan as sort-merge")
        if "Exchange" in plan:
            raise AssertionError(
                "bucketed join still shuffles:\n" + plan[:2000]
            )
        result = joined.groupBy("c_mktsegment").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_ord}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")


@register(
    "sink_bucketed_snapshot",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderpriority
  FROM orders WHERE o_orderkey % 4 = 1
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM o JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=["sink", "snapshot", "bucketed", "join"],
)
def sink_bucketed_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-colocation AND snapshot isolation on the SAME table —
    closing r7's storage-layer seam where a table could be
    snapshot-versioned (snapshots.py manifests) or bucket-colocated
    (catalog saveAsTable, ``sink_bucketed_join``) but not both: two
    snapshot tables are committed with ``bucket_by=(8, custkey)``
    (partition dirs hold hash-bucketed file sets; the spec rides in the
    manifest and every later overwrite must redeclare it), mounted via
    ``snapshot_read_bucketed`` (temp external catalog tables over the
    pinned manifests' data dirs — ADD PARTITION metadata only), and
    sort-merge-joined with an asserted NO-Exchange executed plan. The
    oracle recomputes the joined aggregate from the raw tables, so a
    bucket-routing bug (a row hashed into the wrong file would silently
    drop its join pairs under the shuffle-free plan) breaks the value
    hash, not just the plan gate.

    100 TB story: the daily fact-dim join on the snapshot warehouse was
    the one recurring full-table shuffle left (VERDICT r7); with the
    spec in the manifest the shuffle is paid once at commit and every
    tick's join reads both sides pre-distributed, while commits stay
    O(touched partitions) manifest publishes with time travel intact."""
    from callio_etl_spark.snapshots import (
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_read_bucketed,
    )

    root = _tmp("bsnap")
    p_ord, p_cust = f"{root}/ord", f"{root}/cust"
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 4 == 1)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    snapshot_partition_overwrite(
        spark, o, p_ord, "o_orderpriority",
        bucket_by=(8, "o_custkey"), keep_snapshots=2,
    )
    snapshot_partition_overwrite(
        spark, c, p_cust, "c_mktsegment",
        bucket_by=(8, "c_custkey"), keep_snapshots=2,
    )
    for p, col in ((p_ord, "o_custkey"), (p_cust, "c_custkey")):
        spec = snapshot_manifest(spark, p).get("bucket_spec")
        if spec != {"n": 8, "col": col}:
            raise AssertionError(f"manifest bucket spec wrong: {spec}")
    names = []
    try:
        bo, n1 = snapshot_read_bucketed(spark, p_ord)
        names.append(n1)
        bc, n2 = snapshot_read_bucketed(spark, p_cust)
        names.append(n2)
        joined = bo.hint("merge").join(
            bc, bo["o_custkey"] == bc["c_custkey"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "SortMergeJoin" not in plan:
            raise AssertionError("bucketed snapshot join not sort-merge")
        if "Exchange" in plan:
            raise AssertionError(
                "bucketed snapshot join still shuffles:\n" + plan[:2000]
            )
        result = joined.groupBy("c_mktsegment").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        return _materialize_and_clean(result, root)
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS `{n}`")


@register(
    "sink_segmented_manifest",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0
),
final AS (
  SELECT o_orderkey, o_custkey FROM base WHERE o_orderkey % 120 <> 8
  UNION ALL
  SELECT o_orderkey, o_custkey + 1000 AS o_custkey
  FROM base WHERE o_orderkey % 120 = 8
)
SELECT CAST(o_orderkey % 6 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM final GROUP BY grp
""",
    tags=["sink", "snapshot", "manifest", "scale-path"],
)
def sink_segmented_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENTED-MANIFEST commits end to end (snapshots._spill_segments —
    Iceberg's manifest-list split, the 100 TB driver-side metadata fix):
    with the spill thresholds lowered to driver scale, commit a 60-leaf
    table (the manifest spills into 4 content-addressed segment files),
    rewrite ONE leaf, and assert the second commit REUSED 3 of the 4
    segments by hash (only the touched leaf's segment got a new file) —
    then read the live table and aggregate, so the oracle breaks if
    reassembly drops a leaf, resurrects the replaced partition, or the
    shared segments point at stale content. The scale claim this pins:
    per-commit metadata write cost is O(touched leaves), not O(table),
    and retained history shares segment files."""
    import json as _json

    from callio_etl_spark import snapshots as _snap
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("segman")
    path = f"{root}/ord"
    o = load_table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderkey") % 120).cast("string").alias("pk"),
    )
    # scoped override (ContextVar): a concurrent commit elsewhere in this
    # driver keeps the production spill thresholds
    with _snap.segment_thresholds(16, 16):
        v1 = snapshot_partition_overwrite(
            spark, base, path, "pk", keep_snapshots=4
        )
        touched = base.where(F.col("o_orderkey") % 120 == 8).withColumn(
            "o_custkey", F.col("o_custkey") + 1000
        )
        v2 = snapshot_partition_overwrite(
            spark, touched, path, "pk", keep_snapshots=4
        )
        with open(f"{path}/__snap__/m{v1:06d}.json", encoding="utf-8") as f:
            r1 = _json.load(f)
        with open(f"{path}/__snap__/m{v2:06d}.json", encoding="utf-8") as f:
            r2 = _json.load(f)
        s1, s2 = r1.get("segments", []), r2.get("segments", [])
        if len(s1) != 4 or "partitions" in r1:
            raise AssertionError(f"expected 4 spilled segments, got {r1.keys()} {len(s1)}")
        if len(set(s1) & set(s2)) != 3 or len(set(s2) - set(s1)) != 1:
            raise AssertionError(
                f"one-leaf commit must reuse 3/4 segments: {s1} vs {s2}"
            )
        live = snapshot_read(spark, path)
        result = live.groupBy(
            (F.col("o_orderkey") % 6).cast("long").alias("grp")
        ).agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_custkey").cast("long").alias("cust_sum"),
        )
        return _materialize_and_clean(result, root)


@register(
    "sink_remove_orphans",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 1
)
SELECT CAST(o_orderkey % 8 AS BIGINT) AS pk_grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM base GROUP BY pk_grp
""",
    tags=["sink", "snapshot", "maintenance"],
)
def sink_remove_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORPHAN-FILE MAINTENANCE end to end (snapshots.snapshot_remove_orphans
    — Iceberg's remove_orphan_files split, the explicit O(table) walk the
    scoped per-commit vacuums deliberately skip): commit a corpus, then
    inject exactly what a writer that CRASHED between its data-dir
    renames and the manifest publish leaves behind — a token-named data
    dir full of real parquet rows inside a live partition leaf, and
    another inside a leaf NO manifest has ever named — run the sweep,
    and return the table's aggregate. The contract this pins from both
    sides: the sweep must REMOVE every unreferenced strand (asserted
    in-query via the filesystem — including the now-empty alien leaf
    dir) and must NOT touch any referenced dir, so the oracle (the
    committed corpus, which never included the orphan rows) breaks if a
    sweep bug deletes live data, and the assertions fail if it leaves
    strands. Snapshot reads are manifest-driven, so the orphans were
    invisible to readers even BEFORE the sweep — the sweep reclaims
    storage, not correctness.

    100 TB story: this is the scheduled-maintenance half of the r9
    vacuum split — per-commit reclaim stays O(newly-dead leaves) while
    crashed-writer strands (whose leaves no manifest names) are found
    only by this explicit full walk, at compaction cadence."""
    from callio_etl_spark.io import _exists, _hadoop
    from callio_etl_spark.snapshots import (
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_remove_orphans,
    )

    root = _tmp("orphans")
    path = f"{root}/ord"
    o = load_table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderkey") % 8).cast("string").alias("pk"),
    )
    snapshot_partition_overwrite(spark, base, path, "pk", keep_snapshots=2)

    # the crashed writer's strands: token-named dirs with REAL parquet
    # rows (poisoned +5 so a resurrection would break the oracle), one
    # in a live leaf, one in a leaf no manifest has ever named
    strand_rows = base.where(F.col("pk") == "3").withColumn(
        "o_custkey", F.col("o_custkey") + 5
    )
    orphan_live = f"{path}/pk=3/__s000099_deadbeef__"
    orphan_alien = f"{path}/pk=99/__s000098_cafebabe__"
    strand_rows.drop("pk").write.parquet(orphan_live)
    strand_rows.drop("pk").write.parquet(orphan_alien)

    snapshot_remove_orphans(spark, path, keep_snapshots=2)

    jvm, fs, _ = _hadoop(spark, path)
    if _exists(jvm, fs, orphan_live) or _exists(jvm, fs, orphan_alien):
        raise AssertionError("orphan sweep left crashed-writer strands")
    if _exists(jvm, fs, f"{path}/pk=99"):
        raise AssertionError("emptied alien leaf dir not removed")
    live = snapshot_read(spark, path)
    result = live.groupBy(
        (F.col("o_orderkey") % 8).cast("long").alias("pk_grp")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("o_custkey").cast("long").alias("cust_sum"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_widen_evolve",
    oracle="""
WITH eras AS (
  SELECT o_orderpriority, CAST(FLOOR(o_totalprice) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 6 = 3       -- written NARROW (int era)
  UNION ALL
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice) AS BIGINT) + 10000000000 AS cents
  FROM orders WHERE o_orderkey % 6 = 0       -- wide era: beyond int range
  UNION ALL
  SELECT o_orderpriority, CAST(FLOOR(o_totalprice) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 6 = 1       -- narrow batch, relaxed up
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM eras GROUP BY o_orderpriority
""",
    tags=["sink", "snapshot", "widen"],
)
def sink_widen_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-WIDENING evolution end to end (snapshots.snapshot_widen_column
    — the remaining Iceberg evolution verb after add/rename/drop/spec;
    the reference relaxes types on append via ALLOW_FIELD_RELAXATION,
    bigquery_service.py:276-284): commit an era of orders with an INT
    ``cents`` column, WIDEN it to long in one metadata commit (zero data
    rewritten), land a second era whose values exceed the int range
    (proving post-widen dirs physically store wide), then append a THIRD
    era still written narrow — the writer relaxes it up to the committed
    type. The mixed-era read casts int-era files up in the scan
    projection (the widen-aware era scan), so the aggregate breaks the
    hash if a narrow era reads wrong, a wide value truncates, or the
    relaxation misfires; min/max pin the exact range across eras.

    100 TB story: widening a column on a decade-deep table costs one
    manifest write; recorded [min,max] stats stay exact at the wider
    type so between-pruning keeps working, and old partitions migrate
    physically only when compaction rewrites them anyway."""
    from callio_etl_spark.snapshots import (
        snapshot_append,
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_widen_column,
    )

    root = _tmp("widen")
    path = f"{root}/ord"
    o = load_table(spark, sf_dir, "orders")
    cents_int = F.floor("o_totalprice").cast("int").alias("cents")
    era1 = o.where(F.col("o_orderkey") % 6 == 3).select(
        "o_orderpriority", cents_int
    )
    v1 = snapshot_partition_overwrite(
        spark, era1, path, "o_orderpriority", keep_snapshots=4
    )
    snapshot_widen_column(spark, path, "cents", "long")
    era2 = o.where(F.col("o_orderkey") % 6 == 0).select(
        "o_orderpriority",
        (F.floor("o_totalprice").cast("long") + 10_000_000_000).alias("cents"),
    )
    snapshot_append(spark, era2, path, "o_orderpriority", keep_snapshots=4)
    era3 = o.where(F.col("o_orderkey") % 6 == 1).select(
        "o_orderpriority", cents_int
    )
    snapshot_append(spark, era3, path, "o_orderpriority", keep_snapshots=4)

    m = snapshot_manifest(spark, path)
    hist = [(w["name"], w["from"], w["to"]) for w in m.get("widens", [])]
    if hist != [("cents", "integer", "long")]:
        raise AssertionError(f"widen history wrong: {m.get('widens')}")
    live = snapshot_read(spark, path)
    if dict(live.dtypes)["cents"] != "bigint":
        raise AssertionError(f"live type wrong: {dict(live.dtypes)['cents']}")
    if dict(snapshot_read(spark, path, version=v1).dtypes)["cents"] != "int":
        raise AssertionError("time travel lost the pre-widen type")
    result = live.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_rename_evolve",
    oracle="""
WITH eras AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 6 = 2   -- written before the rename
  UNION ALL
  SELECT o_orderkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 6 = 5   -- written after, under 'price'
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM eras GROUP BY o_orderpriority
""",
    tags=["sink", "snapshot", "rename"],
)
def sink_rename_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-RENAME evolution end to end (snapshots.snapshot_rename_column
    — Iceberg's field-ID rename resolved by dir-token commit version):
    commit an era of orders under ``o_totalprice``, RENAME the column to
    ``price`` in one metadata commit (zero data rewritten), land a
    second era written under the new name, and read the union — the
    old era's values surface under ``price`` (the era-aware scan reads
    each dir under the names it physically stores and aliases to the
    current schema), so the aggregate breaks the hash if historical
    values read NULL, double, or under a stale name. The no-NULL
    invariant is asserted in-query on the mixed-era read.

    100 TB story: renaming a column on a decade-deep table costs one
    manifest write; old partitions migrate physically only when
    something else rewrites them (compaction does it for free), and
    pruning on the renamed column stays safe-conservative for old dirs
    until they re-record stats."""
    from callio_etl_spark.snapshots import (
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_rename_column,
    )

    root = _tmp("rename")
    path = f"{root}/ord"
    o = load_table(spark, sf_dir, "orders")
    era1 = o.where(F.col("o_orderkey") % 6 == 2).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    era2 = o.where(F.col("o_orderkey") % 6 == 5).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
    )
    snapshot_partition_overwrite(
        spark, era1, path, "o_orderpriority", keep_snapshots=4
    )
    snapshot_rename_column(spark, path, "o_totalprice", "price")
    # era 2 lands in DISTINCT partition dirs?? No — same priorities; a
    # partition overwrite would retire era 1. Append-shaped history via
    # union: rewrite each partition with era1+era2 rows would migrate
    # era1 physically and defeat the test. Instead land era 2 in its own
    # partitions by suffixing the partition value, keeping era-1 dirs
    # pre-rename on disk.
    era2p = era2.withColumn(
        "o_orderpriority", F.concat(F.col("o_orderpriority"), F.lit("#new"))
    )
    snapshot_partition_overwrite(
        spark, era2p, path, "o_orderpriority", keep_snapshots=4
    )
    m = snapshot_manifest(spark, path)
    if [r["from"] for r in m.get("renames", [])] != ["o_totalprice"]:
        raise AssertionError(f"rename history wrong: {m.get('renames')}")
    live = snapshot_read(spark, path)
    if live.where(F.col("price").isNull()).count() != 0:
        raise AssertionError("historical values read NULL under the new name")
    result = live.groupBy(
        F.regexp_replace("o_orderpriority", "#new$", "").alias(
            "o_orderpriority"
        )
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("price").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_price"),
    )
    return _materialize_and_clean(result, root)


@register(
    "ivm_refresh_join",
    oracle="""
WITH f1 AS (
  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 4 = 1
), urgent AS (
  SELECT * FROM f1 WHERE o_orderpriority = '1-URGENT'
), f2 AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM f1 WHERE o_orderpriority <> '1-URGENT'
  UNION ALL
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 17
              ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 7.5
              ELSE o_totalprice END AS o_totalprice
  FROM urgent WHERE o_orderkey % 3 <> 0
  UNION ALL
  SELECT o_orderkey + 20000000, o_custkey, o_totalprice
  FROM urgent WHERE o_orderkey % 7 = 0
), d2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 13 = 0 THEN 'FLIPPED'
              ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM f2 JOIN d2 ON o_custkey = c_custkey
GROUP BY seg
""",
    tags=["sink", "snapshot", "cdc", "ivm", "join"],
)
def ivm_refresh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-VIEW incremental maintenance end to end
    (snapshots.maintain_join_view — closes VERDICT r7's IVM gap: real
    reporting views join fact to dims, the flagship itself is
    agg-over-join): materialize segment-grain count+sum over
    orders ⋈ customer at (v1, v1), then land a fact rewrite (deletes
    % 3, price updates % 5, key-MIGRATING updates % 11 — the rows whose
    join partner changes — and key-shifted inserts % 7) AND a dim
    attribute flip (c_custkey % 13 -> 'FLIPPED' segment, the class the
    single-table IVM cannot express) and refresh the view from the two
    change feeds alone in ONE bilinear-delta pass
    (ΔF ⋈ D_new ∪ F_old ⋈ ΔD) — neither base table is re-aggregated.
    The oracle recomputes the final join aggregate directly, so a
    missed retraction, a double-counted simultaneous delta, or a
    dropped segment migration breaks the hash.

    Cost at 100 TB: the fact delta reads one rewritten partition
    against the broadcast dim; the dim delta joins the fact once
    against a broadcast two-row-per-flip feed — never |fact| x |dim|,
    and never a recompute."""
    from callio_etl_spark.snapshots import (
        maintain_join_view,
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("ivmj")
    fp, dp, vp = f"{root}/fact", f"{root}/dim", f"{root}/view"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    f1 = o.where(F.col("o_orderkey") % 4 == 1)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.lit("d").alias("dp"),
    )
    snapshot_partition_overwrite(spark, f1, fp, "o_orderpriority", keep_snapshots=3)
    snapshot_partition_overwrite(spark, c, dp, "dp", keep_snapshots=3)

    def prep_f(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "price", F.col("o_totalprice").cast("decimal(18,6)")
        ).withColumn("c_custkey", F.col("o_custkey"))

    def maintain():
        return maintain_join_view(
            spark, fp, dp, vp,
            ["o_orderkey"], ["c_custkey"], ["c_custkey"],
            ["seg"], ["price"], prep_fact=prep_f,
        )

    v0 = maintain()

    # fact v2: one partition rewritten with all four change classes
    urgent = f1.where(F.col("o_orderpriority") == "1-URGENT")
    survivors = (
        urgent.where(F.col("o_orderkey") % 3 != 0)
        .withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 11 == 0, F.col("o_custkey") + 17)
            .otherwise(F.col("o_custkey")),
        )
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 7.5)
            .otherwise(F.col("o_totalprice")),
        )
    )
    inserts = urgent.where(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 20_000_000
    )
    snapshot_partition_overwrite(
        spark, survivors.unionByName(inserts), fp, "o_orderpriority",
        keep_snapshots=3,
    )
    # dim v2: attribute flip — the change class that retracts every
    # joined row of the flipped keys from their old segment
    c2 = c.withColumn(
        "seg",
        F.when(F.col("c_custkey") % 13 == 0, F.lit("FLIPPED")).otherwise(
            F.col("seg")
        ),
    )
    snapshot_partition_overwrite(spark, c2, dp, "dp", keep_snapshots=3)

    v1 = maintain()  # ONE refresh folds both feeds
    if not (v1 > v0):
        raise AssertionError(f"view did not advance: {v0} -> {v1}")
    view = snapshot_read(spark, vp).drop("_fact_version", "_dim_version")
    result = view.select(
        "seg",
        F.col("n"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_spec_evolve",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type,
         STRFTIME(ts, '%Y-%m-%d') AS d,
         STRFTIME(ts, '%Y-%m')   AS ym
  FROM events
),
eras AS (
  SELECT * FROM e WHERE event_id % 2 = 0   -- day-partitioned era
  UNION ALL
  SELECT * FROM e WHERE event_id % 2 = 1   -- month-partitioned era
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT d) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT ym) AS BIGINT) AS n_months,
       CAST(SUM(user_id) AS BIGINT) AS user_sum
FROM eras GROUP BY event_type
""",
    tags=["sink", "snapshot", "spec-evolution"],
)
def sink_spec_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION end to end (snapshots.snapshot_evolve_spec
    — Iceberg's evaluate-each-file-under-its-writing-spec rule; closes
    the one modern-format gap VERDICT r7 named): commit a day-partitioned
    era of the events table, EVOLVE the spec to month with a metadata-only
    commit, land a month-partitioned era, and read the union — every row
    keeps its own era's partition value (both day and month columns are
    retained source columns, so nothing reads NULL), and the aggregate
    over the union breaks the hash if either era dropped rows, doubled
    them, or lost its partition values. Pruning across the boundary is
    asserted in-plan: a day-range read must scan fewer files than the
    full table (day dirs pruned by partition VALUE, month dirs by their
    recorded per-partition day stats) yet return exactly the era rows.

    100 TB story: re-partitioning a decade-old day-grain table to month
    grain costs ONE manifest write; history stays time-travelable, old
    eras migrate lazily via atomic retire+rewrite commits
    (retire_leaves), and the read plan prunes with whichever spec each
    file carries."""
    from callio_etl_spark.snapshots import (
        snapshot_evolve_spec,
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("specevo")
    path = f"{root}/ev"
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.date_format("ts", "yyyy-MM").alias("ym"),
    )
    era1 = e.where(F.col("event_id") % 2 == 0)
    era2 = e.where(F.col("event_id") % 2 == 1)
    snapshot_partition_overwrite(
        spark, era1, path, "d", stats_cols=["ym"], keep_snapshots=4
    )
    snapshot_evolve_spec(spark, path, "ym", keep_snapshots=4)
    snapshot_partition_overwrite(
        spark, era2, path, "ym", stats_cols=["d"], keep_snapshots=4
    )
    m = snapshot_manifest(spark, path)
    if m["spec_history"] != ["d", "ym"]:
        raise AssertionError(f"spec history wrong: {m.get('spec_history')}")

    live = snapshot_read(spark, path)
    n_files = len(live.inputFiles())
    day_lo = era1.agg(F.min("d")).first()[0]
    # one-day probe: exact value pruning on day dirs, stats pruning on
    # month dirs — must scan strictly fewer files, return the day's rows
    probe = snapshot_read(spark, path, between=("d", day_lo, day_lo))
    if not (0 < len(probe.inputFiles()) < n_files):
        raise AssertionError(
            f"cross-spec pruning ineffective: {len(probe.inputFiles())}/{n_files}"
        )
    expect_day = e.where(F.col("d") == day_lo).count()
    got_day = probe.where(F.col("d") == day_lo).count()
    if got_day != expect_day:
        raise AssertionError(f"pruned read dropped rows: {got_day} != {expect_day}")

    result = live.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("d").cast("long").alias("n_days"),
        F.countDistinct("ym").cast("long").alias("n_months"),
        F.sum("user_id").cast("long").alias("user_sum"),
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_wap_publish",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 5 = 0
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM base GROUP BY o_orderpriority
""",
    tags=["sink", "snapshot", "wap"],
)
def sink_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish end to end: publish a half-sized v1, STAGE
    the full batch as an audit commit (invisible: the live read is
    asserted unchanged while the auditor reads the staged version),
    run a data-quality audit against the staged read (null keys,
    row-count monotonicity), publish, and also stage a BAD batch
    (negative prices) whose audit fails and is discarded — asserting
    the discard left the published state intact. The returned
    aggregate reads the final published table; the oracle recomputes
    it from the source, so a publish that lost rows, leaked the
    discarded batch, or served the staged state early breaks the
    hash. 100 TB story: this is Iceberg's WAP flow — quality gates run
    against the EXACT bytes that go live (no re-write between audit
    and publish, publish is O(1) metadata), bad batches never surface
    to readers, and concurrent writers are serialized by the same
    parent-check every commit uses."""
    from callio_etl_spark.snapshots import (
        snapshot_discard_staged,
        snapshot_partition_overwrite,
        snapshot_publish,
        snapshot_read,
        snapshot_staged,
    )

    root = _tmp("wap")
    path = f"{root}/orders_wap"
    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice")
    )
    v1 = base.where(F.col("o_orderkey") % 10 == 0)
    snapshot_partition_overwrite(spark, v1, path, "o_orderpriority")
    n_live = snapshot_read(spark, path).count()
    sv = snapshot_partition_overwrite(
        spark, base, path, "o_orderpriority", audit=True
    )
    if snapshot_read(spark, path).count() != n_live:
        raise AssertionError("staged commit leaked into the live read")
    audited = snapshot_read(spark, path, version=sv)
    bad_keys, n_staged = audited.agg(
        F.count(F.when(F.col("o_orderkey").isNull(), 1)),
        F.count("*"),
    ).first()
    if bad_keys != 0 or n_staged < n_live:
        raise AssertionError("audit should pass for the good batch")
    snapshot_publish(spark, path, sv)
    doomed = base.limit(50).withColumn(
        "o_totalprice", -F.abs(F.col("o_totalprice"))
    )
    sv_bad = snapshot_partition_overwrite(
        spark, doomed, path, "o_orderpriority", audit=True
    )
    neg = (
        snapshot_read(spark, path, version=sv_bad)
        .where(F.col("o_totalprice") < 0)
        .count()
    )
    if neg == 0:
        raise AssertionError("bad batch should fail its audit")
    snapshot_discard_staged(spark, path, sv_bad)
    if snapshot_staged(spark, path):
        raise AssertionError("discard left a staged manifest behind")
    result = (
        snapshot_read(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_row_deletes",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 4 = 0
), survivors AS (
  SELECT * FROM base WHERE NOT (o_orderkey % 9 = 0 OR o_custkey % 13 = 0)
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS price_sum
FROM survivors GROUP BY o_orderpriority
""",
    tags=["sink", "snapshot", "merge-on-read"],
)
def sink_row_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row deletes end to end: commit orders as a
    partitioned snapshot, then run TWO stacking snapshot_delete_rows
    commits (orderkey % 9, then custkey % 13) — each writes only
    per-partition delete files holding the doomed keys; the data-dir
    tokens are asserted UNCHANGED across both commits (no rewrite
    happened), and the pre-delete version is asserted still readable at
    full row count (time travel over delete files). The live read
    anti-joins the delete files at scan time and is aggregated per
    partition; the oracle applies the same two predicates directly, so
    a delete that leaks into the wrong partition, misses a stacked
    file, or resurrects on the pinned read breaks the hash. 100 TB
    story: this is the GDPR-erasure shape — commit cost O(matching
    rows) with doomed rows scattered across EVERY partition, where a
    copy-on-write delete would rewrite the whole table; the read-side
    anti-join is against a delete set AQE broadcasts, and compaction
    retires the debt per partition when it accumulates
    (tests/test_snapshots.py)."""
    from callio_etl_spark.snapshots import (
        snapshot_delete_rows,
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("mor")
    path = f"{root}/orders_mor"
    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice")
    )
    snapshot_partition_overwrite(
        spark, base, path, "o_orderpriority", keep_snapshots=3
    )
    pre_rows = snapshot_read(spark, path).count()
    toks_before = snapshot_manifest(spark, path)["partitions"]
    snapshot_delete_rows(
        spark, path, F.col("o_orderkey") % 9 == 0, keys=["o_orderkey"],
        keep_snapshots=3,
    )
    snapshot_delete_rows(
        spark, path, F.col("o_custkey") % 13 == 0, keys=["o_orderkey"],
        keep_snapshots=3,
    )
    m = snapshot_manifest(spark, path)
    if m["partitions"] != toks_before:
        raise AssertionError("row delete must not rewrite any data dir")
    if snapshot_read(spark, path, version=1).count() != pre_rows:
        raise AssertionError("pre-delete snapshot must stay readable intact")
    result = (
        snapshot_read(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("price_sum"),
        )
    )
    return _materialize_and_clean(result, root)


@register(
    "sink_snapshot_append",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
), batch AS (
  SELECT o_orderkey + 20000000 AS o_orderkey, o_orderpriority,
         o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
), unioned AS (
  SELECT * FROM base UNION ALL SELECT * FROM batch
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS price_sum
FROM unioned GROUP BY o_orderpriority
""",
    tags=["sink", "snapshot", "append"],
)
def sink_snapshot_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAST APPEND roundtrip: commit a partitioned base snapshot, then
    snapshot_append a disjoint batch (shifted keys, landing in every
    priority partition) — the batch's rows stack as NEW data dirs; the
    base data dirs are asserted byte-identical in the manifest (append
    must not rewrite, rename, or re-list existing data), and the
    pre-append version stays pinnable at the base row count. The live
    read unions the stacked dirs per partition and aggregates; the
    oracle computes the union directly. 100 TB story: this is the
    ingestion shape — appending a day's batch costs O(batch) no matter
    how much data the touched partitions hold (the overwrite commit
    would rewrite them); small-file debt accrues per append and
    snapshot_compact_partition retires it (tests/test_snapshots.py)."""
    from callio_etl_spark.snapshots import (
        snapshot_append,
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_read,
    )

    root = _tmp("snapapp")
    path = f"{root}/orders_app"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice"
    )
    base = o.where(F.col("o_orderkey") % 3 == 0)
    snapshot_partition_overwrite(
        spark, base, path, "o_orderpriority", keep_snapshots=2
    )
    pre_rows = snapshot_read(spark, path).count()
    toks_before = snapshot_manifest(spark, path)["partitions"]
    batch = (
        o.where((F.col("o_orderkey") % 3 == 1) & (F.col("o_orderkey") % 5 == 0))
        .withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000)
    )
    snapshot_append(spark, batch, path, "o_orderpriority", keep_snapshots=2)
    m = snapshot_manifest(spark, path)
    for leaf, tok in toks_before.items():
        now = m["partitions"][leaf]
        kept = now == tok or (isinstance(now, list) and now[0] == tok)
        if not kept:
            raise AssertionError(f"append rewrote base data dir of {leaf}")
    if snapshot_read(spark, path, version=1).count() != pre_rows:
        raise AssertionError("pre-append snapshot must stay pinnable intact")
    result = (
        snapshot_read(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("price_sum"),
        )
    )
    return _materialize_and_clean(result, root)


@register(
    "merge_upsert_mor",
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS m
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
), s AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice,
         substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS m
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-12-01'
), merged AS (
  SELECT * FROM s
  UNION ALL
  SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s)
)
SELECT m,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_updated,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS price_sum
FROM merged GROUP BY m
""",
    tags=["J8", "sink", "snapshot", "merge-on-read"],
)
def merge_upsert_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-ON-READ complement of merge_upsert_snapshot: the same
    warehouse + incremental batch, but the upsert commits as ONE
    manifest publishing equality delete files for the matched keys and
    appended data dirs for the whole source — NO partition is rewritten
    (asserted: every pre-upsert data dir survives as the first token of
    its leaf). Sequence semantics keep the same-version combination
    sound: the deletes (version v) apply only to dirs older than v,
    never to the rows this commit appends. The read side resolves the
    anti-join at scan time and aggregates per month; the oracle computes
    source-wins-union directly. 100 TB trade (Delta/Iceberg's CoW vs
    MoR table property): merge_write_snapshot pays a windowed rewrite
    once and keeps reads join-free; this pays O(|source| + |matched|)
    at write time — the right arm when matched keys scatter across a
    table too large to rewrite — and compaction retires the scan-time
    debt per partition."""
    from callio_etl_spark.queries.merge_queries import _source, _target
    from callio_etl_spark.snapshots import (
        snapshot_manifest,
        snapshot_partition_overwrite,
        snapshot_read,
        snapshot_upsert_rows,
    )

    root = _tmp("mor_merge")
    path = f"{root}/orders_morm"
    month = F.substring(F.col("d").cast("string"), 1, 7).alias("m")
    target = _target(spark, sf_dir).select("*", month).drop("d")
    source = _source(spark, sf_dir).select("*", month).drop("d")
    snapshot_partition_overwrite(spark, target, path, "m", keep_snapshots=2)
    toks_before = snapshot_manifest(spark, path)["partitions"]
    snapshot_upsert_rows(spark, path, source, keys=["o_orderkey"], keep_snapshots=2)
    m = snapshot_manifest(spark, path)
    for leaf, tok in toks_before.items():
        now = m["partitions"][leaf]
        if not (now == tok or (isinstance(now, list) and now[0] == tok)):
            raise AssertionError(f"MoR upsert rewrote data dir of {leaf}")
    result = (
        snapshot_read(spark, path)
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum((F.col("o_orderstatus") == "U").cast("long")).alias(
                "n_updated"
            ),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("price_sum"),
        )
    )
    return _materialize_and_clean(result, root)
