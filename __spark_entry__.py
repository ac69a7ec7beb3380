"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over ``kafka_connect_morphlines_spark.plans.queries`` — the
operator-coverage corpus (one entry per SURVEY.md §2 operator + the
LLM-pipeline operators), each with a DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_connect_morphlines_spark.plans.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["join_revenue_by_nation"].build(spark, "/root/testdata/sf0.001")


# Certification prefix.  Each certification round samples a bounded
# (50-entry) prefix of queries(); across rounds the union of CORRECTNESS_r*
# files must cover the whole corpus.  This rotation changes no query plan
# (only how Python workers start), so it is stalest-first: the 18 queries
# last certified in r07 outside the two previous rotations, all 24 last
# certified in r08, and the first 8 by name of those last certified in r09
# (staleness = last hash-certified round in the CORRECTNESS_r01..r11 files).
# Exactly 50 slots.  Nothing is ever dropped: certified queries stay registered.
_CERT_PREFIX = [
    # ---- slots 1-18: last certified in r07 ----
    "embedding_ivf_topk", "embedding_near_dupes",
    "embedding_random_projection", "event_time_hopping_window",
    "gini_value_by_type", "gumbel_stratified_sample",
    "interleave_sources_order", "map_user_rankings", "mmr_diverse_topk",
    "mrr_user_rankings", "ndcg_user_rankings", "permutation_test_values",
    "phrase_contamination_scan", "pii_scan_summary",
    "priority_counts_by_linestatus", "quantile_normalize_chars",
    "route_by_schema_docs", "url_blocklist_filter",
    # ---- slots 19-42: last certified in r08 ----
    "acf_daily_revenue", "add_values_array", "approx_sketches",
    "argmin_supplier_per_nation", "asof_join_events",
    "avro_container_roundtrip", "bootstrap_purchase_mean_ci",
    "bradley_terry_events", "brier_score_purchase",
    "cusum_changepoint_revenue", "detect_mime_type", "embedding_pca_whiten",
    "hll_audience_overlap", "hll_rolling_distinct_users", "hll_sketch_rollup",
    "kmv_distinct_users", "multimodal_features", "pq_encode_codes",
    "pq_topk_adc", "read_xml_roundtrip", "sample_seeded",
    "temperature_quota_sample", "triangle_count_cosupply", "user_agent_parse",
    # ---- slots 43-50: last certified in r09 ----
    "agg_pricing_summary", "anova_value_by_type", "anti_join_customers",
    "brown_forsythe_values", "compression_ratio_quality", "contains_filter",
    "convert_timestamp_millis", "dedup_exact",
]
_CERT_RANK = {name: i for i, name in enumerate(_CERT_PREFIX)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    ordered = sorted(
        QUERIES,
        key=lambda name: (_CERT_RANK.get(name, len(_CERT_PREFIX)), name),
    )
    return {name: QUERIES[name].build for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}
