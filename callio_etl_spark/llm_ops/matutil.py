"""Size-gated materialization for derived count/posting tables.

The r14 analytics reshapes replaced repeated corpus passes with
``localCheckpoint(eager=True)`` materializations of intermediate count
tables (per-doc bigram counts, unigram/vocab tables, TF-IDF postings,
the min-band LSH key table). localCheckpoint holds the blocks in
EXECUTOR BLOCK STORAGE: right for dictionary/vocab-scale tables, but a
posting table is O(distinct (doc, term)) — corpus-scale, not
vocab-scale — and at 100 TB that materialization is a spill-heavy
memory hog (VERDICT r14 item 4; guide §5: caching competes with
execution memory).

``materialize`` keeps the r14 plan shape (one producing pass feeding a
materialized table read k times) but picks the medium by the
Catalyst-estimate rule ``snapshots._distribute_for_write`` gates on
(``snapshots._plan_size_estimate``):

- estimate unavailable (the defaultSizeInBytes sentinel band — local
  relations, RDD-backed frames, anything already checkpointed) or below
  the spill threshold -> ``localCheckpoint(eager=True)`` (bench scale:
  every gated table is KB-MB; the plan is byte-identical to r14);
- above the threshold -> write the table to parquet scratch and read it
  back — the artifact an LM/IR pipeline persists anyway (its postings /
  n-gram count tables ARE products), costing one extra scan-from-disk
  per re-read instead of pinning corpus-scale blocks in memory.

Threshold: ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` x
``spark.callio.materialize.spillFactor`` (default 16 -> 1 GiB at the
64 MB advisory default). Both are runtime confs, so a deployment sizes
the gate to its executors without code changes; the factor — not a
fixed byte count — keeps the rule scale-adaptive the same way the
rebalance gate is. Scratch dirs are created under
``spark.sql.warehouse.dir`` — a root every executor can write, where the
driver's temp dir is a path on one machine — and removed through the
Hadoop FS at interpreter exit (they must outlive the returned frame's
consumers, which is the rest of the query run).
"""

from __future__ import annotations

import atexit
import shutil
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from callio_etl_spark.io import _hadoop
from callio_etl_spark.snapshots import _parse_bytes_conf, _plan_size_estimate

#: Qualified URIs of the spill scratch dirs this process wrote.
_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    """Remove every spill scratch dir through the Hadoop FS (a local one
    directly once the session is stopped)."""
    spark = SparkSession.getActiveSession()
    for d in _SCRATCH_DIRS:
        try:
            _, fs, p = _hadoop(spark, d)
            fs.delete(p, True)
        except Exception:
            if d.startswith("file:"):
                shutil.rmtree(urlparse(d).path, ignore_errors=True)
    _SCRATCH_DIRS.clear()


atexit.register(_cleanup_scratch)


def materialize(df: DataFrame, label: str = "tbl") -> DataFrame:
    """Materialize a derived table once: localCheckpoint below the spill
    gate (or when the size is unknowable), parquet scratch above it."""
    est = _plan_size_estimate(df)
    spark = df.sparkSession
    try:
        advisory = _parse_bytes_conf(
            spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864b"
            )
        )
        factor = int(spark.conf.get("spark.callio.materialize.spillFactor", "16"))
    except Exception:
        advisory, factor = 64 * 1024 * 1024, 16
    if est is None or est < advisory * max(1, factor):
        return df.localCheckpoint(eager=True)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    _, fs, p = _hadoop(spark, f"{warehouse}/callio_mat_{label}_{uuid.uuid4().hex}")
    scratch = fs.makeQualified(p).toString()
    _SCRATCH_DIRS.append(scratch)
    df.write.mode("overwrite").parquet(scratch)
    return spark.read.parquet(scratch)
