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
# files must cover the whole corpus.  This rotation leads with the queries
# whose build() reaches code this change touched: the Python word splitter
# now shared with ``textstats.tokens`` (``bpe_encode``, the unigram-LM
# encoder ``_unigram_encode`` and ROUGE-L; a build() trace at sf0.001 finds
# one query each) and benford_first_digit_prices, whose ignored broadcast
# hint is gone.  Then the 13 queries last hash-certified in r04, then the
# stalest cohort outside the previous rotation: all 28 last certified in
# r05, and the first 5 by name of those last certified in r07 (staleness =
# last hash-certified round in the CORRECTNESS_r01..r11 files).
# Exactly 50 slots.  Nothing is ever dropped: certified queries stay registered.
_CERT_PREFIX = [
    # ---- slots 1-4: reach the shared splitter or lost the broadcast hint ----
    "benford_first_digit_prices", "bpe_encode_sample", "rouge_l_pairs",
    "unigram_lm_encode_sample",
    # ---- slots 5-17: last certified in r04 ----
    "multimodal_binary_meta", "normalized_dedup_keys", "pit_join_ship_state",
    "range_join_bucketed", "remove_fields_projection", "resample_ffill_hourly",
    "rolling_event_stats", "salted_agg_event_totals", "scd2_order_versions",
    "string_codec_roundtrip", "winnow_containment_pairs",
    "winnow_fingerprint_index", "winnow_overlap_pairs",
    # ---- slots 18-45: last certified in r05 ----
    "calibration_bins_purchase", "cube_order_counts", "customer_order_histogram",
    "decayed_engagement_users", "disjunctive_part_revenue",
    "exists_orders_by_priority", "filter_agg_revenue", "hard_negative_mining",
    "idle_rich_customers", "jaro_winkler_linkage", "km_retention_curve",
    "lag_daily_revenue_delta", "large_order_customers", "local_supplier_volume",
    "nation_market_share", "pmi_type_value", "pr_threshold_metrics",
    "profit_by_nation_year", "promo_revenue_share", "returned_items_topk",
    "shipping_priority_topk", "small_quantity_revenue", "stats_by_returnflag",
    "supplier_part_variety", "top_revenue_supplier",
    "touch_attribution_channels", "volume_shipping_pairs", "waiting_suppliers",
    # ---- slots 46-50: last certified in r07 ----
    "control_char_stats", "embedding_ann_lsh", "embedding_binary_hamming_topk",
    "embedding_int8_quantize", "embedding_int8_topk",
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
