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
# files must cover the whole corpus.  This rotation leads with the 19
# queries whose build() calls functions.driver_table, the one route from
# driver-side rows to a frame, or builds acf_daily_revenue's lags with
# spark.range (found by tracing every build() at sf0.01 under
# sys.setprofile), then continues stalest-first with the
# queries last certified in r10 (staleness = last hash-certified round in
# the CORRECTNESS_r01..r11 files), by name from bpe_token_count on,
# skipping those already above.  Exactly 50 slots.  Nothing is ever
# dropped: certified queries stay registered.
_CERT_PREFIX = [
    # ---- slots 1-19: build() reaches a driver-table site ----
    "acf_daily_revenue", "benford_first_digit_prices", "bpe_encode_sample",
    "bpe_merge_rules", "bradley_terry_events", "data_quality_check",
    "embedding_pca_whiten", "mmr_diverse_topk", "pca_power_component",
    "percentiles_by_status", "pr_threshold_metrics", "price_decile_grid",
    "revenue_concentration", "ssl_prototype_prune", "trimmed_mean_by_type",
    "unigram_lm_encode_sample", "unigram_lm_vocab", "url_blocklist_filter",
    "weighted_median_price_by_flag",
    # ---- slots 20-50: the r10 cohort from bpe_token_count on ----
    "bpe_token_count", "ccnet_perplexity_buckets", "chi2_type_vs_daypart",
    "data_quality_profile", "ddsketch_value_quantiles", "dedup_cc_clusters",
    "dedup_keep_best", "doc_fingerprint", "dolma_attribute_tags",
    "dominant_part_suppliers", "embedding_cosine_topk",
    "embedding_knn_join", "er_golden_record", "event_transition_probs",
    "frequent_part_pairs", "funnel_conversion_deadline",
    "gopher_filter_verdicts", "grouping_sets_revenue", "html_strip",
    "js_divergence_sources", "kn_bigram_logprob", "kruskal_wallis_values",
    "ks_drift_value", "lang_id_pred", "leakage_safe_split",
    "line_boilerplate_clean", "mann_whitney_values", "nb_predict_lang",
    "nb_train_lang", "ngram_jaccard_pairs", "pii_redact",
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
