"""Query registry backing the driver contract (__spark_entry__.py).

Each registered query is a callable ``(spark, sf_dir) -> DataFrame`` plus an
optional DuckDB oracle SQL string over the same parquet tables. The driver
compares row-count + schema + order-insensitive value-hash at sf=0.01, so:

- every computed column is aliased identically on both sides;
- double aggregates go through DECIMAL so both engines produce the exact same
  value regardless of accumulation order (`sum(cast(x as decimal))` is exact);
- nondeterministic picks (ANY_VALUE) are replaced by MIN/MAX so results are
  order-independent;
- ties in top-k / row_number orderings always carry a unique key tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: list[str] = field(default_factory=list)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: list[str] | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags or [])
        return fn

    return deco


#: The driver records correctness for only the FIRST 50 queries() entries
#: (observed cap in CORRECTNESS_r01.json), so dict order decides which
#: operators get a hard driver signal. The window ROTATES each round so
#: every registered query keeps a FRESH driver row (COVERAGE.md keeps the
#: per-round slot ledger). State entering the r13 driver run: the
#: registry holds 212 queries (r12's 211 plus the r13 registration
#: update_log_modes — the reference's full audit-mode vocabulary
#: ERROR_LOGIN/STAGED/APPEND/TRUNCATE emitted from their triggers,
#: runner.py:90/144/382-415, folded through a mixed-mode compaction);
#: CORRECTNESS_r12 closed 50/50 green, so the cumulative ledger covers
#: 208 of the prior 211 (uncovered: only the two
#: rows-only-by-construction sketch/float-fold queries + ann_topk_gemm).
#: ann_topk_gemm / approx_sketch_stats / curriculum_bins_approx stay out
#: of the window (no deterministic cross-engine oracle; their
#: driver-checkable forms are sketch_error_bounds /
#: curriculum_bins_audit). The r13 window holds:
#:   1. the seventeen r8-vintage queries that sat at positions 51-67
#:      last round (text_stats .. window_range_scan) — the only rows
#:      older than r9 entering this round;
#:   2. three flagship/merge canaries as regression tripwires;
#:   3. the r13 registration update_log_modes;
#:   4. the r9-vintage cohort oldest-first (47 live queries whose
#:      latest row is r9; the first 29 alphabetically fit —
#:      ann_hard_negatives .. minhash_lsh_pairs; the remaining 18,
#:      pack_sequences .. weighted_sample, hold positions 51-68 and
#:      lead the r14 window).
#: Queries outside the window remain registered, pytest-covered, and
#: locally oracle-checked every round via tools/check_correctness.py
#: (stricter value compare than the driver hash).
#:
#: r15 rotation (VERDICT r14 item 8 — the window did NOT rotate between
#: r13 and r14, so staleness accrued): the ledger computed from
#: CORRECTNESS_r01..r14 shows 18 oracle-bearing rows whose latest driver
#: check is r9 and 47 at r10. The r15 window holds all 18 r9-vintage
#: rows, five touched-path canaries for the index-service commit
#: restructuring this optimization round performs (maintain_band_index /
#: maintain_vector_index / rebuild_band_index / rebuild_vector_index /
#: stream_ingest_vector_index — the rebuilds are themselves r10-stale),
#: then the r10-vintage cohort oldest-first alphabetically (27 fit; the
#: remaining 17 hold positions 51-67 and lead the next window).
#:
#: r16 rotation: the ledger from CORRECTNESS_r01..r15 shows the 17
#: r10-vintage rows r15 left at positions 51-67 as the oldest; they lead.
#: Next come the six rows whose write path moved onto the snapshot verbs
#: when the update_log, the IVM views and the S8/S9 sinks became
#: snapshot tables (update_log_modes, checkpoint_log_compact, the two
#: HTTP loops, ivm_refresh_agg, ivm_refresh_join; sink_append_evolve,
#: sink_version_diff and sink_versioned_restore are already in the lead
#: group). The r11-vintage cohort fills the rest oldest-first
#: alphabetically (27 of 45 fit; the remaining 18 hold positions 51-68
#: and lead the next window).
DRIVER_PRIORITY: list[str] = [
    # --- the r10-vintage rows from r15's positions 51-67 (17) ---
    "ivf_train_rounds",
    "join_anti",
    "join_semi",
    "json_map_suite",
    "length_batching",
    "minhash_incremental_grown",
    "null_semantics_suite",
    "salted_join_agg",
    "scd2_history",
    "shard_manifest",
    "sink_append_evolve",
    "sink_partition_delete",
    "sink_remove_orphans",
    "sink_version_diff",
    "sink_versioned_restore",
    "unigram_rarity",
    "zorder_layout",
    # --- canaries: the write paths now on the snapshot verbs (6) ---
    "update_log_modes",
    "checkpoint_log_compact",
    "http_incremental_loop",
    "http_loop_snapshot_sink",
    "ivm_refresh_agg",
    "ivm_refresh_join",
    # --- oldest-first re-checks: the r11-vintage cohort (27 of 45) ---
    "ann_topk_brute",
    "ann_topk_ivf",
    "checkpoint_warm",
    "chunk_documents",
    "chunk_overlap",
    "conditional_agg",
    "corpus_filter",
    "curriculum_bins_audit",
    "customer_in_range",
    "dedup_cluster_assign",
    "dedup_exact",
    "dedup_first_wins",
    "dedup_survivors",
    "dq_checks",
    "embedding_neardup",
    "embedding_neardup_bucketed",
    "embedding_quantize",
    "exists_subquery",
    "extrema",
    "frame_sample",
    "hash_split",
    "join_fanout",
    "join_full_outer",
    "join_left_dim",
    "merge_upsert_mor",
    "merge_upsert_snapshot",
    "minhash_lsh_pairs_capped",
    # --- positions 51-68: the r11 cohort's remaining eighteen fall
    #     just outside the 50-row window and lead the next window
    "minhash_lsh_pairs_grouped",
    "percentile_summary",
    "pivot_event_types",
    "pmi_cooccurrence",
    "posexplode_tokens",
    "profile_columns",
    "range_join_bucketed",
    "regexp_suite",
    "rollup_agg",
    "semantic_dedup",
    "semantic_dedup_gemm",
    "sessionize",
    "set_intersect_except",
    "sink_bloom_skip",
    "sink_compact_vacuum",
    "sketch_error_bounds",
    "token_dist_drift",
    "vocab_coverage",
]


def _ordered_names() -> list[str]:
    """Priority names first (every one must exist), then the rest in
    registration order."""
    missing = [n for n in DRIVER_PRIORITY if n not in REGISTRY]
    assert not missing, f"DRIVER_PRIORITY names not registered: {missing}"
    rest = [n for n in REGISTRY if n not in set(DRIVER_PRIORITY)]
    return DRIVER_PRIORITY + rest


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from callio_etl_spark.queries import (  # noqa: F401
        advanced,
        api_source,
        cdc,
        data_quality,
        fact_staff_daily,
        functions_ext,
        merge_queries,
        relational,
        scalars,
        sinks,
        subqueries,
        tpch,
    )
    from callio_etl_spark.llm_ops import (  # noqa: F401
        chunking,
        curation,
        dedup_ops,
        lm_ops,
        sampling,
        similarity,
        text_analysis,
        multimodal,
    )

    _LOADED = True
