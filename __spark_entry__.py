"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The actual query surface lives in
``databricks_delta_lake_migration_spark.queries`` — one registration per
operator family from SURVEY.md §2 (+ [EXT] LLM-pipeline tier), each
carrying its DuckDB oracle SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from databricks_delta_lake_migration_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: 6-way star join + grouped revenue aggregate
    (q05) on sf0.001."""
    q = all_queries()["q05_nation_revenue"]
    return q.fn(spark, "/root/testdata/sf0.001")


# The driver hash-checks the first 50 registrations; ordering is
# coverage policy. All 219 registrations passed their latest hash
# check. The window below was derived from the round-era
# freshness report (retired; git history keeps it); performance is
# measured by perfbench/, not by this entry point. ROUND 13 WINDOW:
#   - the 8 keeper anchors (one per signature tier: MERGE, time
#     travel, streaming CDC, medallion, cosine top-k, MinHash-LSH,
#     grouped agg, star join) — cross-round regression sentinels;
#     q40 is also r13-plan-changed (norm hoist), so the anchor slot
#     doubles as its re-hash
#   - the r13 plan-changed queries, re-hashed FIRST: q22 (single-scan
#     cohort), q44 (norm hoist + partial top-k gate), q46/q133/q192
#     (similarity-family norm hoist), q175 (recall-probe norm hoist),
#     q91/q98 (corpus_filter O(n log n) bigram mode), q201 (fused
#     per-doc aggregate)
#   - the five r7 roll-overs (q185/q186/q187/q191/q195 — the stalest
#     rows in the corpus)
#   - the r8 tail in registration order until the window is full
# 8 + 9 + 5 + 28 = 50. pytest's local DuckDB oracle-parity twin still
# exercises every registration.
_PRIORITY = [
    # keepers: one anchor per signature tier
    "q60_merge_upsert", "q63_time_travel_diff", "q92_streaming_cdc_apply",
    "q70_medallion_gold", "q40_cosine_topk", "q36_minhash_lsh_pairs",
    "q01_pricing_summary", "q05_nation_revenue",
    # r13 plan-changed (optimization round): driver re-hash FIRST
    "q22_cohort_retention", "q44_batch_topk", "q46_cosine_near_dup",
    "q133_sq8_topk", "q192_hard_negatives", "q175_knn_graph",
    "q91_corpus_filter", "q98_corpus_pipeline",
    "q201_exact_substring_profile",
    # the r7 freshness floor (the stalest rows)
    "q185_rolling_zscore", "q186_group_trend",
    "q187_equidepth_histogram", "q191_quantile_profile",
    "q195_time_weighted_average",
    # re-confirms: the r8 tail in registration order (newest row r8)
    "q43_approx_distinct", "q45_salted_skew_agg",
    "q80_sql_passthrough", "q199_bucketed_join",
    "q202_table_diff", "q206_semi_join_exists",
    "q212_ordered_string_agg", "q218_hll_overlap",
    "q30_token_stats", "q31_language_profile",
    "q32_quality_scores", "q34_exact_dedup",
    "q35_jaccard_pairs", "q37_simhash",
    "q50_multimodal_features", "q49_chunk_dedup",
    "q78_near_dup_clusters", "q77_word_entropy",
    "q79_pii_redaction", "q83_top_tokens",
    "q200_prefix_jaccard_join", "q53_pandas_udf_norm",
    "q48_ivf_topk", "q207_vector_stats_hof",
    "q84_medallion_tx_analytics", "q215_group_split_audit",
    "q203_rfm_segments", "q205_touch_attribution",
]


def _ordered():
    qs = all_queries()
    ordered = {n: qs[n] for n in _PRIORITY if n in qs}
    ordered.update((n, q) for n, q in qs.items() if n not in ordered)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in _ordered().items() if q.oracle is not None}
