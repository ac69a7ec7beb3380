"""Scale smoke: run the engine's operator shapes on synthetic data 1-2
orders of magnitude beyond the bench tables, verifying the plans survive a
scale-up on fixed memory (the local[32] stand-in for "would this hold at
100 TB on a real cluster").

Generates data with spark.range (no driver-side materialization), runs each
operator twice, reports the warm run.  Usage:

    python tools/scale_smoke.py [rows_multiplier]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F  # noqa: E402

from bench import start_session  # noqa: E402
from kafka_connect_morphlines_spark import compile_pipeline  # noqa: E402
from kafka_connect_morphlines_spark.functions import bloom, dedup, dsir, evalmetrics, funnel, multimodal, orderstats, pq, relational, retrieval, semantic, similarity, sketches, temporal, textclean, textstats, traindata, validation, web, winnow  # noqa: E402
from kafka_connect_morphlines_spark.functions import timeseries as timeseries_mod  # noqa: E402


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    spark = start_session("scale_smoke")

    n_events = 20_000_000 * mult
    n_docs = 200_000 * mult
    n_vecs = 100_000 * mult

    # synthetic events: 1000 users (~20k rows/user), skewed event types, json props
    events = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 1000).alias("user_id"),
        F.timestamp_millis(F.lit(1700000000000) + F.col("id") * 250).alias("ts"),
        F.element_at(F.array(F.lit("view"), F.lit("view"), F.lit("view"), F.lit("click"), F.lit("purchase")), (F.col("id") % 5 + 1).cast("int")).alias("event_type"),
        (F.col("id") % 997).cast("double").alias("value"),
        F.concat(F.lit('{"k": '), (F.col("id") % 100).cast("string"), F.lit("}")).alias("props"),
    )
    # synthetic docs: ~40 tokens, near-unique content (prime modulus so doc
    # ids don't cycle into identical texts), 10% exact near-duplicates
    def words_for(idc):
        return F.array(*[F.concat(F.lit("w"), ((idc * 7919 + i * 104729 + i * i) % 99991).cast("string")) for i in range(40)])

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.when(F.col("id") % 10 == 9, words_for(F.col("id") - 1)).otherwise(words_for(F.col("id"))),
            " ",
        ).alias("text"),
    )
    # duplicate-heavy corpus: 200 copies of each of 1000 distinct docs — the
    # viral-duplicate scenario where raw pairwise LSH output is quadratic in
    # cluster size; the scalable composition is exact_dedup FIRST, then
    # minhash over distinct content
    dup_heavy = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(F.array(*[F.concat(F.lit("w"), (((F.col("id") % 1000) * (i + 7) + i * 131) % 1000).cast("string")) for i in range(40)]), " ").alias("text"),
    )
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.array(*[((F.col("id") * (j + 3) % 1999).cast("double") / 1999 - 0.5) for j in range(64)]).alias("embedding"),
    )

    pipeline = compile_pipeline(
        [
            {"readJson": {"inputField": "props", "schemaDdl": "k int"}},
            {"setValues": {"tag": "@{event_type}-@{user_id}"}},
            {"contains": {"event_type": ["click", "purchase"]}},
        ]
    )

    only = {s for s in os.environ.get("SPARK_GRAFT_SMOKE_ONLY", "").split(",") if s}

    def run(name, make_df):
        if only and name not in only:
            return None
        for attempt in range(2):
            t0 = time.time()
            df = make_df()
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
        print(f"# {name}: {elapsed:.1f}s (warm)", file=sys.stderr)
        return round(elapsed, 2)

    _books_cache = {}

    def _pq_books(v):
        if "books" not in _books_cache:
            _books_cache["books"] = pq.pq_fit_sample(v, m_subspaces=8, k_codes=16)
        return _books_cache["books"]

    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    results = {
        "rows": {"events": n_events, "docs": n_docs, "vecs": n_vecs},
        "pipeline_20m": run("pipeline_20m", lambda: pipeline(events)),
        "agg_20m": run("agg_20m", lambda: events.groupBy("event_type", (F.col("user_id") % 100)).agg(F.sum("value"), F.count(F.lit(1)))),
        "window_20m": run("window_20m", lambda: events.select("event_id", F.sum("value").over(w).alias("r"))),
        "asof_20m": run(
            "asof_20m",
            lambda: relational.asof_join(
                events.filter(F.col("event_type") == "click"),
                events.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value"),
                "ts",
                "ts",
                by="user_id",
                value_cols=["value"],
            ),
        ),
        "exact_dedup_200k": run("exact_dedup_200k", lambda: dedup.exact_dedup_keys(docs)),
        "minhash_200k": run("minhash_200k", lambda: dedup.minhash_dedup_pairs(docs, threshold=0.6)),
        "minhash_dupheavy_after_exact": run(
            "minhash_dupheavy_after_exact",
            lambda: dedup.minhash_dedup_pairs(dedup.exact_dedup(dup_heavy), threshold=0.6),
        ),
        "simhash_200k": run("simhash_200k", lambda: dedup.simhash_near_dupes(docs, bits=48, max_hamming=3)),
        "jaccard_blocked_200k": run(
            "jaccard_blocked_200k",
            lambda: dedup.ngram_jaccard_pairs(
                docs.withColumn("blk", (F.col("doc_id") % 2000).cast("string")), block_col="blk", threshold=0.8
            ),
        ),
        "cc_over_jaccard_200k": run(
            "cc_over_jaccard_200k",
            lambda: traindata.connected_components(
                dedup.ngram_jaccard_pairs(
                    docs.withColumn("blk", (F.col("doc_id") % 2000).cast("string")), block_col="blk", threshold=0.8
                ),
                docs,
            ),
        ),
        "span_dedup_200k": run("span_dedup_200k", lambda: traindata.remove_duplicate_spans(docs, span_tokens=8)),
        "qclf_200k": run("qclf_200k", lambda: textstats.hashed_linear_score_df(docs)),
        "url_dedup_200k": run(
            "url_dedup_200k",
            lambda: web.url_dedup_keys(
                docs.select(
                    "doc_id",
                    F.concat(
                        F.lit("HTTP://WWW.Example.COM:80/p/"),
                        (F.col("doc_id") % 50000).cast("string"),
                        F.lit("/?utm_source=s&id="),
                        (F.col("doc_id") % 7).cast("string"),
                    ).alias("url"),
                )
            ),
        ),
        "text_quality_200k": run("text_quality_200k", lambda: textstats.quality_features_df(docs)),
        "unigram_logprob_200k": run("unigram_logprob_200k", lambda: textstats.unigram_logprob_df(docs)),
        "fingerprint_200k": run("fingerprint_200k", lambda: textstats.fingerprint_df(docs)),
        "cosine_topk_100k": run("cosine_topk_100k", lambda: similarity.brute_force_topk(vecs, [0.1] * 64, k=10)),
        # semantic dedup at 100k vectors: k=1024 clusters keeps within-cluster
        # pair space ~ n*(n/k)/2 — the SemDeDup blocking bargain at scale
        "semantic_dedup_100k": run(
            "semantic_dedup_100k",
            lambda: semantic.semantic_dedup_keep(
                vecs, semantic.kmeans_fit(vecs, k=1024, n_iter=2, seed=1), threshold=0.999
            ),
        ),
        # incremental ingest: 2M-row batch deduped against a 20M-key corpus
        # snapshot; only maybe-rows reach the verify anti-join
        "bloom_dedup_2m_vs_20m": run(
            "bloom_dedup_2m_vs_20m",
            lambda: bloom.incremental_dedup(
                spark.range(19_000_000, 21_000_000).select(F.col("id").alias("k")),
                spark.range(n_events).select(F.col("id").alias("k")),
                F.col("k"),
                F.col("k"),
                fpp=0.01,
                n_corpus_keys=n_events,
                distinct_keys=False,
            ),
        ),
        "index_stats_200k": run("index_stats_200k", lambda: retrieval.index_stats(docs)),
        "bm25_200k": run(
            "bm25_200k", lambda: retrieval.bm25_topk(docs, ["w1", "w17", "w104"], k=10)
        ),
        "bigram_logprob_200k": run("bigram_logprob_200k", lambda: textstats.bigram_logprob_df(docs)),
        # SCD2 build over the purchase stream (1000 keys x ~4k versions each),
        # then every click point-in-time joined to its user's state
        "scd2_pit_20m": run(
            "scd2_pit_20m",
            lambda: temporal.point_in_time_join(
                events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts"),
                temporal.scd2_versions(
                    events.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value"),
                    "user_id",
                    "ts",
                    ["value"],
                ).select("user_id", "valid_from", "version", "value"),
                key="user_id",
                fact_ts="ts",
                value_cols=["version", "value"],
            ),
        ),
        "funnel_20m": run(
            "funnel_20m", lambda: funnel.funnel_steps(events, ["view", "click", "purchase"])
        ),
        "cohort_20m": run("cohort_20m", lambda: funnel.cohort_retention(events, "click")),
        "cms_heavy_hitters_20m": run(
            "cms_heavy_hitters_20m",
            lambda: sketches.cms_heavy_hitters(events, F.col("user_id"), k=10, depth=4, width=1024),
        ),
        "ddsketch_quantiles_20m": run(
            "ddsketch_quantiles_20m",
            lambda: sketches.dd_quantiles(
                sketches.dd_sketch(events, F.col("value") + 0.01, keys=[F.col("event_type")]),
                [0.5, 0.95, 0.99],
                key_cols=["event_type"],
            ),
        ),
        "weighted_sample_200k": run(
            "weighted_sample_200k",
            lambda: traindata.weighted_sample(docs, F.length("text"), k=1000),
        ),
        # winnowing fans out to ~n_chars gram rows (~50M at mult 1) before
        # the doc-keyed window — the explode-heavy shape that must stay
        # linear; index output shrinks to shared fingerprints only
        "winnow_index_200k": run(
            "winnow_index_200k",
            lambda: winnow.fingerprint_index(docs, k=16, w=8).filter(F.col("n_docs") > 1),
        ),
        "normalized_dedup_200k": run(
            "normalized_dedup_200k", lambda: winnow.normalized_exact_dedup(docs)
        ),
        # DSIR: one index-explode to ~80 hashed grams/doc (~16M rows at mult
        # 1), dim-bounded count tables, (id, long) partial-sum shuffle —
        # must stay linear like the other explode shapes
        "dsir_weights_200k": run(
            "dsir_weights_200k",
            lambda: dsir.importance_weights(docs, F.col("doc_id") % 4 == 0),
        ),
        # CCNet terciles: histogram-CDF bucketing; the per-row cost is the
        # unigram-LM scoring join, the bucket LUT stays histogram-sized
        "ccnet_buckets_200k": run(
            "ccnet_buckets_200k",
            lambda: traindata.rank_buckets(
                textstats.unigram_logprob_df(docs).withColumn(
                    "lang", (F.col("doc_id") % 5).cast("string")
                ),
                value_col="logprob",
                group_col="lang",
            ),
        ),
        # boilerplate line removal: explode + distinct(digest,doc) count +
        # anti-join + reassembly — must scale like the span-dedup shape
        "line_dedup_200k": run(
            "line_dedup_200k",
            lambda: textclean.line_frequency_dedup(
                docs.withColumn("text", F.regexp_replace("text", r"(\S+ \S+ \S+ \S+) ", "$1\n")),
                min_docs=2,
            ),
        ),
        # per-domain cap with the two-phase prefilter (the hot-domain path)
        "domain_cap_200k": run(
            "domain_cap_200k",
            lambda: traindata.cap_per_group(
                docs.select(
                    "doc_id",
                    (F.col("doc_id") % 50).cast("string").alias("source"),
                    F.length("text").alias("score"),
                ),
                group_col="source", cap=1000, score_col="score", prefilter=True,
            ).filter("keep"),
        ),
        # Heaps curve: two token shuffles with map-side combine + 10-row window
        "vocab_growth_200k": run(
            "vocab_growth_200k", lambda: textstats.vocab_growth(docs, n_buckets=10)
        ),
        # round-5 shapes ------------------------------------------------
        # ICWS: one tf groupBy then ONE groupBy(id) with K min-struct
        # aggregates; blocking + mega-bucket cap bound the pair join
        "icws_near_dupes_200k": run(
            "icws_near_dupes_200k",
            lambda: dedup.icws_near_dupes(docs, num_hashes=16, min_agree=12),
        ),
        # chi2: distinct (doc, token) explode + two aggregates; min_df
        # prunes before the per-class window
        "chi2_tokens_200k": run(
            "chi2_tokens_200k",
            lambda: evalmetrics.chi2_tokens(
                docs.withColumn("lang", (F.col("doc_id") % 5).cast("string")),
                F.col("text"),
                F.col("lang"),
                min_df=50,
                topk=5,
            ),
        ),
        # PMI: one bigram explode (checkpointed) + margin joins, TakeOrdered
        "collocations_200k": run(
            "collocations_200k",
            lambda: textstats.collocations_pmi_df(docs, min_count=50, topk=20),
        ),
        # KS: event volume collapses to distinct values before the window
        "ks_drift_20m": run(
            "ks_drift_20m",
            lambda: validation.ks_drift(
                events, F.col("value"), F.col("event_type"), "click", "purchase", decimals=None
            ),
        ),
        # trimmed mean: exact percentile buffers distinct values per group —
        # value cardinality here is bounded (997); quantize first at 100 TB
        "trimmed_mean_20m": run(
            "trimmed_mean_20m",
            lambda: validation.trimmed_stats(events, "event_type", "value"),
        ),
        # map-only quality signals (scan-bound by construction)
        "control_chars_200k": run(
            "control_chars_200k", lambda: textstats.control_char_stats_df(docs)
        ),
        "compression_200k": run(
            "compression_200k", lambda: textclean.compression_ratio(docs)
        ),
        # round-6 shapes ------------------------------------------------
        # binary ANN: map-only 8-byte signature scan + TakeOrdered shortlist;
        # only the bounded shortlist revisits full vectors
        "binary_hamming_100k_vecs": run(
            "binary_hamming_100k_vecs",
            lambda: similarity.binary_hamming_topk(
                vecs, [((7 * (j + 3)) % 1999) / 1999 - 0.5 for j in range(64)],
                k=10, shortlist=100,
            ),
        ),
        # Mann-Whitney: distinct-value aggregate (997 values) + bounded window
        "mann_whitney_20m": run(
            "mann_whitney_20m",
            lambda: evalmetrics.mann_whitney_u(
                events, F.col("value"), F.col("event_type"), "click", "purchase"
            ),
        ),
        # continuous-value variants: ~10M distinct values push the rank
        # cumulatives past SMALL_ROWS onto bucketed_cumsum's distributed
        # path — the late-r10 shape that replaced the pre-quantization
        # contract (the plain legs above stay on the 997-distinct small
        # path and pin its cost)
        "mann_whitney_20m_wide": run(
            "mann_whitney_20m_wide",
            lambda: evalmetrics.mann_whitney_u(
                events,
                (F.col("event_id") % 10000019).cast("double") / 7.0,
                F.col("event_type"),
                "click",
                "purchase",
            ),
        ),
        "ks_drift_20m_wide": run(
            "ks_drift_20m_wide",
            lambda: validation.ks_drift(
                events,
                (F.col("event_id") % 10000019).cast("double") / 7.0,
                F.col("event_type"),
                "click",
                "purchase",
                decimals=None,
            ),
        ),
        "roc_auc_20m_wide": run(
            "roc_auc_20m_wide",
            lambda: evalmetrics.binary_rank_auc(
                events,
                (F.col("event_id") % 10000019).cast("double") / 7.0,
                F.col("event_type") == "purchase",
            ),
        ),
        # bootstrap: b-fold explode with 5-per-digest draws, groupBy(rep)
        "bootstrap_20m_b20": run(
            "bootstrap_20m_b20",
            lambda: evalmetrics.bootstrap_mean_ci(
                events.filter(F.col("event_type") == "purchase"),
                F.col("value"), F.col("event_id"), b=20,
            ),
        ),
        # interleave: per-source rank windows + broadcast m-row index join
        "interleave_200k": run(
            "interleave_200k",
            lambda: traindata.interleave_sources(
                docs.withColumn("source", (F.col("doc_id") % 20).cast("string")),
                group_col="source", order_col="doc_id",
            ),
        ),
        # trade-graph analogue: 200k nodes, ~8 out-edges each, symmetric
        "pagerank_200k_nodes": run(
            "pagerank_200k_nodes",
            lambda: web.pagerank(
                (lambda e: e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))))(
                    spark.range(n_docs * 8).select(
                        (F.col("id") % n_docs).alias("src"),
                        ((F.col("id") * 7919 + 13) % n_docs).alias("dst"),
                    )
                ).distinct(),
                iters=3,
            ),
        ),
        # round-6 shapes, second batch (verdict r06 task #6) ---------------
        # quantile normalization: two histogram-sized grids + broadcast LUT
        "quantile_normalize_200k": run(
            "quantile_normalize_200k",
            lambda: traindata.quantile_normalize(
                docs.select(
                    "doc_id",
                    (F.col("doc_id") % 20).cast("string").alias("source"),
                    F.length("text").cast("double").alias("score"),
                ),
                value_col="score",
            ),
        ),
        # per-class PRF: one groupBy over (actual, predicted) pairs; every
        # post-aggregate frame is |classes|^2-bounded
        "multiclass_prf_20m": run(
            "multiclass_prf_20m",
            lambda: evalmetrics.multiclass_prf(
                events,
                (F.col("user_id") % 7).cast("string"),
                ((F.col("user_id") + F.col("event_id") % 3) % 7).cast("string"),
            ),
        ),
        # MRR: one per-query rank window + one aggregate (1000 query groups)
        "mrr_20m": run(
            "mrr_20m",
            lambda: evalmetrics.mrr_at_k(
                events, "user_id", F.col("value"), F.col("event_id") % 11 == 0,
                k=10, tiebreak=F.col("event_id"),
            ),
        ),
        # stratified Gumbel: per-group rank windows over derandomized keys
        "gumbel_by_group_200k": run(
            "gumbel_by_group_200k",
            lambda: dsir.gumbel_topk_by_group(
                docs.select(
                    "doc_id",
                    (F.col("doc_id") % 20).cast("string").alias("source"),
                    (F.col("doc_id") % 997).cast("long").alias("logw_milli"),
                ),
                k=100, group_col="source",
            ),
        ),
        # routeBySchema: branch predicates push into ONE shared scan; the
        # union adds no shuffle (certified r06; smoke pins linearity)
        "route_by_schema_20m": run(
            "route_by_schema_20m",
            lambda: compile_pipeline(
                [
                    {"routeBySchema": {
                        "branches": [
                            {"when": "event_type = 'click'",
                             "commands": [{"setValues": {"route": "click"}}]},
                            {"when": "event_type = 'purchase'",
                             "commands": [{"setValues": {"route": "buy"}}]},
                        ],
                        "otherwise": [{"setValues": {"route": "rest"}}],
                    }}
                ]
            )(events).groupBy("route").count(),
        ),
        # round-7 shapes ------------------------------------------------
        # portable HLL rolling: ONE event pass -> per-hour register sketch;
        # rolling stage is sketch-sized (hours x 256) regardless of volume
        "hll_portable_rolling_20m": run(
            "hll_portable_rolling_20m",
            lambda: sketches.hll_rolling_distinct_portable(events, "user_id"),
        ),
        # fixed-point PQ: k-row driver fit, one Arrow encode pass, LUT topk
        "pq_int_encode_topk_100k": run(
            "pq_int_encode_topk_100k",
            lambda: pq.pq_topk_int(
                pq.pq_encode_int(vecs, _pq_books(vecs)),
                _pq_books(vecs),
                [((3 * (j + 5)) % 997) / 997 - 0.5 for j in range(64)],
                k=10,
            ),
        ),
        # md5 portable-hash dedup modes (certified r07): same plan shapes
        # as the murmur3/xxhash legs, md5 adds per-token/shingle cost only
        # exact-k temperature mixture: m-row apportionment + rank window
        "temperature_quota_200k": run(
            "temperature_quota_200k",
            lambda: traindata.temperature_quota_sample(
                docs.withColumn("source", (F.col("doc_id") % 20).cast("string")),
                k_total=10_000,
            ),
        ),
        "minhash_md5_200k": run(
            "minhash_md5_200k",
            lambda: dedup.minhash_dedup_pairs(docs, threshold=0.6, base_hash="md5"),
        ),
        "simhash_md5_200k": run(
            "simhash_md5_200k",
            lambda: dedup.simhash_near_dupes(docs, bits=48, max_hamming=3, token_hash="md5"),
        ),
        # r08 straggler smokes (verdict #9): deterministic md5-keyed sample
        # (map-only filter), multimodal Arrow decode plumbing (mapInPandas
        # over binary payloads), quantized-lattice Lloyd fit + stats
        "sample_seeded_20m": run(
            "sample_seeded_20m",
            lambda: compile_pipeline(
                [{"sample": {"probability": 0.1, "seed": 42, "deterministic": True,
                             "keyField": "event_id"}}]
            )(events.select("event_id", "event_type")),
        ),
        "multimodal_features_200k": run(
            "multimodal_features_200k",
            lambda: multimodal.extract_features(
                docs.select(
                    F.col("doc_id").alias("media_id"),
                    F.lit("image/fake").alias("mime"),
                    F.encode(F.col("text"), "UTF-8").alias("payload"),
                )
            ),
        ),
        "kmeans_int_100k": run(
            "kmeans_int_100k",
            lambda: semantic.kmeans_stats_int(
                vecs.withColumnRenamed("vec_id", "vec_id"),
                semantic.kmeans_fit_int(vecs, k=8, n_iter=3, id_col="vec_id"),
            ),
        ),
        # r08 session-2 operators: KMV bottom-k sketch (Arrow pre-reduce
        # bounds the shuffle), Bradley-Terry (duels -> k x (k-1) matrix),
        # Krippendorff alpha (one (u,c) groupBy + tiny marginals),
        # quantized power iteration (one Arrow d^2 pass), triangle count
        # on a random sparse graph (degree-ordered orientation)
        "kmv_20m": run(
            "kmv_20m",
            lambda: sketches.kmv_estimate(
                sketches.kmv_build(
                    events, F.col("user_id").cast("string"), k=64, group_cols=["event_type"]
                ),
                k=64,
                group_cols=["event_type"],
            ),
        ),
        "bradley_terry_20m": run(
            "bradley_terry_20m",
            lambda: (lambda tv: evalmetrics.bradley_terry_strengths(
                tv.alias("x").join(
                    tv.alias("y"),
                    (F.col("x.user_id") == F.col("y.user_id"))
                    & (F.col("x.event_type") < F.col("y.event_type")),
                ).select(
                    F.when(F.col("x.tv") >= F.col("y.tv"), F.col("x.event_type"))
                    .otherwise(F.col("y.event_type")).alias("wn"),
                    F.when(F.col("x.tv") >= F.col("y.tv"), F.col("y.event_type"))
                    .otherwise(F.col("x.event_type")).alias("ls"),
                ),
                F.col("wn"), F.col("ls"),
            ))(events.groupBy("user_id", "event_type").agg(
                F.sum(F.col("value").cast("decimal(23,6)")).alias("tv"))),
        ),
        "krippendorff_200k": run(
            "krippendorff_200k",
            lambda: evalmetrics.krippendorff_alpha_nominal(
                docs.select(
                    F.col("doc_id").alias("u"),
                    (F.col("doc_id") % 5).cast("string").alias("c"),
                ).unionByName(
                    docs.select(
                        F.col("doc_id").alias("u"),
                        ((F.col("doc_id") * 7 + F.col("doc_id") % 13) % 5)
                        .cast("string").alias("c"),
                    )
                ).unionByName(
                    docs.filter(F.col("doc_id") % 2 == 0).select(  # missing data leg
                        F.col("doc_id").alias("u"),
                        ((F.col("doc_id") * 3) % 5).cast("string").alias("c"),
                    )
                ),
                F.col("u"), F.col("c"),
            ),
        ),
        "power_component_100k": run(
            "power_component_100k",
            lambda: similarity.power_component_int(vecs, n_iter=4),
        ),
        "triangle_2m_edges": run(
            "triangle_2m_edges",
            lambda: web.triangle_count(
                spark.range(2_000_000 * mult).select(
                    (F.col("id") % 100_000).alias("src"),
                    ((F.col("id") * 7919 + 13) % 100_000).alias("dst"),
                ).filter(F.col("src") < F.col("dst")).distinct()
            ),
        ),
        # trend/changepoint family: the pair/window cost is bounded by the
        # SERIES length (calendar days), so the smoke scales the series to
        # a decade (3650 days -> 6.7M Theil-Sen pairs) while the
        # corpus-sized groupBy feeding it scales with events
        "mann_kendall_10y": run(
            "mann_kendall_10y",
            lambda: (lambda daily: timeseries_mod.mann_kendall_trend(
                daily, F.col("d"), F.col("rev")))(
                spark.range(3650 * mult).select(
                    F.date_add(F.lit("2015-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
                    ((F.col("id") * 37 % 1000) + F.col("id") / 10).cast("decimal(23,6)").alias("rev"),
                )
            ),
        ),
        "cusum_10y": run(
            "cusum_10y",
            lambda: timeseries_mod.cusum_changepoint(
                spark.range(3650 * mult).select(
                    F.date_add(F.lit("2015-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
                    ((F.col("id") * 37 % 1000) + F.when(F.col("id") > 1825 * mult, 200).otherwise(0))
                    .cast("decimal(23,6)").alias("rev"),
                ),
                F.col("d"), F.col("rev"),
            ),
        ),
        "spearman_20m": run(
            "spearman_20m",
            lambda: evalmetrics.spearman_rho(
                events.groupBy("user_id").agg(
                    F.sum(F.col("value").cast("decimal(23,6)")).alias("spend"),
                    F.count(F.lit(1)).alias("cnt"),
                ),
                F.col("spend"), F.col("cnt"),
            ),
        ),
        # r09 additions: the k-group rank/robust tests run over the full
        # 20M-row events frame (one pooled rank map / one median window +
        # one moment groupBy); Siegel over a 10-year daily series (pair
        # table bounded by calendar days); weighted quantiles over the
        # full frame with ~1000 distinct groups to stress the per-
        # (partition, group) offset machinery; JSD over the doc corpus
        "kruskal_20m": run(
            "kruskal_20m",
            lambda: evalmetrics.kruskal_wallis(
                events, F.col("event_type"), F.col("value").cast("decimal(18,6)")
            ),
        ),
        "brown_forsythe_20m": run(
            "brown_forsythe_20m",
            lambda: evalmetrics.brown_forsythe(
                events, F.col("event_type"), F.col("value").cast("decimal(18,6)")
            ),
        ),
        "siegel_10y": run(
            "siegel_10y",
            lambda: (lambda daily: timeseries_mod.siegel_repeated_median_slope(
                daily, F.col("d"), F.col("rev")
            ))(
                spark.range(3650 * mult).select(
                    F.date_add(F.lit("2015-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
                    (F.col("id") * 37 % 1000).cast("decimal(23,6)").alias("rev"),
                )
            ),
        ),
        "weighted_median_20m": run(
            "weighted_median_20m",
            lambda: orderstats.weighted_quantiles_by_group(
                events,
                F.col("user_id") % 1000,
                F.col("value").cast("decimal(18,6)"),
                (F.col("event_id") % 7) + 1,
                {"median": (1, 2), "p90": (9, 10)},
            ),
        ),
        "jsd_docs": run(
            "jsd_docs",
            lambda: textstats.js_divergence_matrix(
                docs.select("doc_id", "text", (F.col("doc_id") % 8).cast("string").alias("source")),
                F.col("text"), F.col("source"),
            ),
        ),
        # r10 late additions: the three deterministic-bucket order-stat
        # primitives on a WIDE value domain (id/7.0 -> ~20M distinct
        # doubles per run, ~2.9M per group) — exactly the shape where the
        # built-in percentile()'s per-group value->count map buffer
        # concentrates on one task.
        "interp_quantiles_20m_wide": run(
            "interp_quantiles_20m_wide",
            lambda: orderstats.interpolated_quantiles_by_group(
                events,
                F.col("user_id") % 7,
                F.col("event_id").cast("double") / 7.0,
                {"p25": 0.25, "median": 0.5, "p90": 0.9},
            ),
        ),
        # the built-in on the same shape, for the ratio: ONE aggregation
        # buffer per group holds a value->count map of ~n/7 distinct
        # doubles — the memory hazard the bucket rework removes
        "interp_quantiles_20m_builtin": run(
            "interp_quantiles_20m_builtin",
            lambda: events.groupBy((F.col("user_id") % 7).alias("g")).agg(
                F.expr(
                    "percentile(CAST(event_id AS DOUBLE) / 7.0, array(0.25, 0.5, 0.9))"
                ).alias("qs")
            ),
        ),
        "global_index_20m": run(
            "global_index_20m",
            lambda: orderstats.with_global_index(
                events.select((F.col("event_id").cast("double") / 3.0).alias("_v"), "event_id"),
                "_v",
                tiebreaks=["event_id"],
            )[0],
        ),
        "global_rank_pick_20m": run(
            "global_rank_pick_20m",
            # counts checkpointed upstream per the documented contract —
            # each selection round re-reads it
            lambda: orderstats.global_rank_pick(
                events.groupBy((F.col("event_id").cast("double") / 11.0).alias("_v"))
                .agg(F.count(F.lit(1)).alias("_c"))
                .localCheckpoint(),
                "_v",
                "_c",
                [n_events // 4, n_events // 2, (3 * n_events) // 4],
            ),
        ),
    }
    print(json.dumps(results))


if __name__ == "__main__":
    main()
