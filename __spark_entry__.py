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
# files must cover the whole corpus.  This rotation leads with the 10
# queries whose build() reaches the rewritten bucketed-prefix order
# statistics (found by tracing every build() under sys.setprofile), then
# takes the rest of the r09 cohort (the 36 queries last certified in r09
# from distinct_count_by_nation on), then stalest-first: the first 4 by
# name of those last certified in r10 outside the previous rotations
# (staleness = last hash-certified round in the CORRECTNESS_r01..r11
# files).  Exactly 50 slots.  Nothing is ever dropped: certified queries
# stay registered.
_CERT_PREFIX = [
    # ---- slots 1-10: build() reaches the bucketed-prefix rewrite ----
    "kruskal_wallis_values", "ks_drift_value", "mann_whitney_values",
    "percentiles_by_status", "revenue_concentration", "roc_auc_purchase",
    "spearman_spend_vs_orders", "trimmed_mean_by_type",
    "weighted_median_price_by_flag", "zipf_slope",
    # ---- slots 11-46: rest of the r09 cohort ----
    "distinct_count_by_nation", "enrich_json_conform",
    "event_time_tumbling_window", "except_low_priority",
    "extract_json_paths", "extract_uri", "find_replace",
    "from_connect_data_json", "generate_uuid_deterministic", "grok_extract",
    "head_sorted", "if_then_else", "join_revenue_by_nation",
    "math_functions", "not_equals_filter", "orders_by_month",
    "pca_power_component", "pivot_event_counts", "read_csv_lines",
    "read_json_typed", "read_line_explode", "read_multi_line",
    "rollup_counts", "semi_join_intersect", "sessionize",
    "set_values_template", "sort_topn_lineitems", "split_field",
    "split_key_value", "string_functions", "to_connect_data_projection",
    "translate_dict", "trend_daily_revenue_fast", "try_rules",
    "window_running_sum", "window_topk_orders",
    # ---- slots 47-50: last certified in r10 ----
    "ab_test_event_values", "audience_overlap_matrix",
    "bloom_incremental_dedup", "bloom_semi_join_orders",
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
