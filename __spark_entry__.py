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
# files must cover the whole corpus.  This rotation leads with the queries whose
# build() reaches the one shared whitespace tokenizer ``textstats.tokens``
# (it replaced ``tokens_codegen``, evalmetrics' lowercased copy and the
# inline split(trim(text)) copies) or the unigram-LM skeleton both twins
# share.  A build() trace at sf0.001 finds 57 such queries, more than the
# 50 slots: the two unigram-LM queries come first, then the other
# tokenizer users stalest first (last hash-certified round in the
# CORRECTNESS_r01..r11 files, then name).  The 7 left out were all
# certified in r11: encode_documents_ids, icws_weighted_near_dupes,
# inverted_index_stats, quality_classifier_score, span_dedup_clean,
# textrank_keywords, tfidf_top_terms.  So no slot goes to the unchanged
# stale cohort this time (the 13 other queries last certified in r04).
# Exactly 50 slots.  Nothing is ever dropped: certified queries stay registered.
_CERT_PREFIX = [
    # ---- slots 1-2: the unigram-LM skeleton (fit + encoder) ----
    "unigram_lm_vocab", "unigram_lm_encode_sample",
    # ---- slots 3-6: tokenizer users last certified in r04 ----
    "pack_sequences_bins", "temperature_mixture_rates", "unigram_logprob",
    "word_entropy",
    # ---- slot 7: tokenizer users last certified in r05 ----
    "cohens_kappa_langid",
    # ---- slots 8-18: tokenizer users last certified in r07 ----
    "chi2_token_lang", "collocations_pmi", "dataset_card_by_source",
    "domain_cap_sample", "dsir_gumbel_topk", "dsir_importance_weights",
    "lang_confusion_matrix", "lang_prf_report", "line_dedup_within_doc",
    "rrf_hybrid_fusion", "vocab_growth_curve",
    # ---- slots 19-29: tokenizer users last certified in r08 ----
    "bigram_logprob", "bm25_topk_search", "bpe_encode_sample",
    "bpe_merge_rules", "cdc_chunk_stats", "chunk_sliding_windows",
    "dedup_minhash_lsh", "dedup_simhash", "krippendorff_alpha_langid",
    "source_overlap_matrix", "tokenizer_fertility_by_lang",
    # ---- slots 30-46: tokenizer users last certified in r10 ----
    "ccnet_perplexity_buckets", "dedup_cc_clusters", "dedup_keep_best",
    "doc_fingerprint", "dolma_attribute_tags", "gopher_filter_verdicts",
    "js_divergence_sources", "kn_bigram_logprob", "lang_id_pred",
    "leakage_safe_split", "line_boilerplate_clean", "nb_predict_lang",
    "nb_train_lang", "ngram_jaccard_pairs", "text_quality",
    "token_frequencies", "zipf_slope",
    # ---- slots 47-50: tokenizer users last certified in r11 ----
    "chunk_documents_windows", "cross_dedup_benchmark",
    "decontaminate_ngrams", "dup_ngram_stats",
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
