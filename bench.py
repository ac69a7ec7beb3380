"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": sf}

Each query executes its full plan via the noop writer (no driver-side
collect skewing the measurement).  Driver heap: $SPARK_DRIVER_MEMORY,
else min(24g, 0.6 x MemAvailable); see ``start_session``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from kafka_connect_morphlines_spark import get_spark  # noqa: E402
from kafka_connect_morphlines_spark.plans.queries import QUERIES  # noqa: E402
from kafka_connect_morphlines_spark.session import driver_memory  # noqa: E402
from kafka_connect_morphlines_spark.sources.files import load_table  # noqa: E402

HEADLINE = [
    # morphline pipeline path
    "read_json_typed",
    "grok_extract",
    "convert_timestamp_millis",
    # relational core
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_topk_orders",
    "sessionize",
    "session_window_agg",
    "event_time_tumbling_window",
    "sort_topn_lineitems",
    "asof_join_events",
    "range_join_bucketed",
    # wider TPC-H shapes (multi-dim star join, outer + double agg, having)
    "volume_shipping_pairs",
    "customer_order_histogram",
    "large_order_customers",
    # temporal tables: SCD2 build + point-in-time join
    "scd2_order_versions",
    "pit_join_ship_state",
    # behavioral analytics
    "funnel_conversion",
    "event_transition_probs",
    "frequent_part_pairs",
    "ab_test_event_values",
    # monitoring / sketches
    "zscore_hourly_anomalies",
    "ddsketch_value_quantiles",
    "value_histogram_by_type",
    # graph + linkage
    "pagerank_trade_graph",
    "fuzzy_join_part_names",
    # LM ladder top rung
    "kn_bigram_logprob",
    # weighted corpus sampling
    "weighted_sample_docs",
    # format layer
    "avro_container_roundtrip",
    # LLM-pipeline operators
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "normalized_dedup_keys",
    "winnow_fingerprint_index",
    "winnow_overlap_pairs",
    "embedding_cosine_topk",
    "embedding_knn_join",
    "text_quality",
    "doc_fingerprint",
    "unigram_logprob",
    "bigram_logprob",
    "bm25_topk_search",
    "quality_classifier_score",
    "span_dedup_clean",
    "dsir_importance_weights",
    "url_canonical_dedup",
    "zorder_values",
    # round-4 corpus-prep additions
    "line_boilerplate_clean",
    "domain_cap_sample",
    "vocab_growth_curve",
    "hard_negative_mining",
    "ccnet_perplexity_buckets",
    "dolma_attribute_tags",
    # corpus-preparation operators (traindata.py)
    "decontaminate_ngrams",
    "dedup_cc_clusters",
    "waiting_suppliers",
    # semantic dedup + incremental ingest (semantic.py, bloom.py)
    "semantic_dedup",
    "kmeans_cluster_stats",
    "bloom_incremental_dedup",
    # round-4 session additions (bloom join prefilter, D4 prune, JW linkage)
    "bloom_semi_join_orders",
    "ssl_prototype_prune",
    "jaro_winkler_linkage",
    # evaluation metrics (evalmetrics.py)
    "roc_auc_purchase",
    "nb_predict_lang",
    # round-5 session additions (hybrid search, drift, feature selection)
    "rrf_hybrid_fusion",
    "ks_drift_value",
    "chi2_token_lang",
    "collocations_pmi",
    "trimmed_mean_by_type",
    "icws_weighted_near_dupes",
    "control_char_stats",
    "compression_ratio_quality",
    "ndcg_user_rankings",
    "gini_value_by_type",
    "map_user_rankings",
    "bootstrap_purchase_mean_ci",
    "permutation_test_values",
    "phrase_contamination_scan",
    # round-6 session additions (routing command, binary ANN, rank test,
    # deterministic interleave)
    "route_by_schema_docs",
    "embedding_binary_hamming_topk",
    "mann_whitney_values",
    "interleave_sources_order",
    "event_time_hopping_window",
    "quantile_normalize_chars",
    "mrr_user_rankings",
    "gumbel_stratified_sample",
    "lang_prf_report",
    # round-7/8 additions (exact-k mixture sampler; certified kmeans twin
    # is already above)
    "temperature_quota_sample",
    "sample_seeded",
    "multimodal_features",
    "hll_rolling_distinct_users",
    "pq_topk_adc",
    "cdc_chunk_stats",
    "source_overlap_matrix",
    "chunk_sliding_windows",
    "detect_mime_type",
    "read_xml_roundtrip",
    "user_agent_parse",
    # round-8 session-2 additions
    "krippendorff_alpha_langid",
    "kmv_distinct_users",
    "bradley_terry_events",
    "pca_power_component",
    "triangle_count_cosupply",
    "tokenizer_fertility_by_lang",
    "acf_daily_revenue",
    "spearman_spend_vs_orders",
    "trend_daily_revenue",
    "trend_daily_revenue_fast",
    "cusum_changepoint_revenue",
    "anova_value_by_type",
    "benford_first_digit_prices",
    # round-9 additions (rank/robust stats ladder + mixture drift +
    # exact distributed weighted order statistics)
    "kruskal_wallis_values",
    "brown_forsythe_values",
    "js_divergence_sources",
    "weighted_median_price_by_flag",
    # round-10 addition (exact global percent grid on the per-rank
    # interval selection)
    "price_decile_grid",
]


def start_session(
    app_name: str, sf_dir: str | None = None, extra_conf: dict[str, str] | None = None
) -> SparkSession:
    """The session of this bench and ``tools/``: the driver heap of
    ``session.driver_memory()``, fixed (``-Xms`` = ``-Xmx``) and pre-touched
    at untimed start-up so heap growth never page-faults inside a timed
    query, plus warmers for one-time JVM/parquet/JSON/Python-worker init.
    ``extra_conf`` is applied last."""
    # read the heap once: spark.driver.memory and -Xms must be one value
    heap = driver_memory()
    # a JVM crash report goes to the temp dir, never into the checkout
    java_opts = (
        f"-Xms{heap} -XX:+AlwaysPreTouch"
        f" -XX:ErrorFile={os.path.join(tempfile.gettempdir(), 'hs_err_pid%p.log')}"
    )
    conf = {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        **(extra_conf or {}),
    }
    spark = get_spark(app_name=app_name, extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    if sf_dir is not None:
        load_table(spark, sf_dir, "region").selectExpr("count(*)").collect()
    spark.sql("SELECT from_json('{\"a\":1}', 'a int')").collect()
    # Python/Arrow runner: worker-pool spawn + first Arrow batch is ~2-3s
    spark.range(100).mapInPandas(lambda it: it, "id long").collect()
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = start_session("bench", sf_dir)

    # JIT warmup pass (r10, VERDICT r09 #7): the r09 cold total was 2.2x
    # the warm total, attributed to C2-compiler starvation — the first
    # queries pay JIT of SHARED runtime paths (Tungsten sort/exchange,
    # parquet reader, janino itself), not just their own codegen.  Run a
    # codegen-diverse subset once at the smallest sibling SF (untimed,
    # best-effort) so the per-query cold numbers measure PLAN compile
    # cost, not who-ran-first.
    small = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    wdir = small if os.path.isdir(small) else sf_dir
    t0 = time.time()
    for wname in (
        "agg_pricing_summary",     # decimal hash agg
        "join_revenue_by_nation",  # broadcast + shuffle joins
        "window_topk_orders",      # WindowExec + sort
        "grok_extract",            # regex codegen
        "dedup_minhash_lsh",       # xxhash explode + self-join
        "embedding_cosine_topk",   # higher-order array functions
        "pivot_event_counts",      # expand + pivot agg
        "trend_daily_revenue_fast",  # sort_array aggregates
    ):
        try:
            QUERIES[wname].build(spark, wdir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - warmup is best-effort
            pass
    warmup_sec = round(time.time() - t0, 3)
    print(f"# warmup: {warmup_sec}s at {wdir}", file=sys.stderr)

    # Four passes per query: the first pays one-time whole-stage-codegen/JIT
    # compilation (measured on this host at 20-40s under contention vs ~1s
    # steady-state); the reported number is the MIN of the three warm
    # executions (best-of-N, SCALE.md lesson 5) — the throughput a pipeline
    # actually sustains.  This host
    # shows +/-2-10x timing noise under contention (single warm samples have
    # ranged 2.9s-17s for the same plan), so min-of-2 is the honest
    # steady-state estimator.  Cold times are reported per query too, so
    # codegen-compile regressions stay visible round over round.
    # One failing query must not zero the whole bench: each query is wrapped;
    # failures land in "errors" as the final exception line and the rest of
    # the file stays valid.
    #
    # Contention hardening (r09, VERDICT next-round #1): three consecutive
    # rounds burned an A/B cycle on phantom perf flags — single readings
    # taken during host-load bursts that isolated reruns always returned to
    # floor.  The fix is in the harness: (a) the 1-min load average is
    # recorded at the start of every query, (b) any query whose warm min
    # exceeds 2x its committed floor (BENCH_FLOORS.json — the best warm
    # reading across all committed BENCH_DETAIL revisions + isolated
    # own-JVM runs) is automatically re-measured up to 3 more times with a
    # fresh best-of-3 each attempt, keeping the overall min, and (c) both
    # the pre-rerun reading and the rerun count land in BENCH_DETAIL so a
    # burst is visible as (first_min, final, load1) instead of masquerading
    # as a code regression.
    floors: dict[str, float] = {}
    floors_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOORS.json")
    if os.path.exists(floors_path) and abs(sf - 0.1) < 1e-9:
        try:
            floors = json.load(open(floors_path)).get("floors", {})
        except (ValueError, OSError) as exc:
            print(f"bench: ignoring unreadable {floors_path}: {exc}", file=sys.stderr)

    def best_of_3(spec) -> float:
        warms = []
        for _ in range(3):
            t0 = time.time()
            spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            warms.append(time.time() - t0)
        return min(warms)

    # Global rerun budget: under a SUSTAINED burst every query could trip
    # the 2x-floor check, and 3 extra best-of-3 rounds x 100+ queries
    # would multiply the bench wall-time ~4x.  30 rerun rounds total
    # (~3-5 min of extra work) is enough to clear a handful of genuine
    # burst victims; past it, readings are recorded as-is and the
    # "rerun_budget_exhausted" flag tells the reader the remaining
    # inflations are un-retried, not confirmed.
    rerun_budget = 30
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    load1: dict[str, float] = {}
    reruns: dict[str, dict[str, float]] = {}
    over_floor: list[str] = []
    errors: dict[str, str] = {}
    for name in HEADLINE:
        spec = QUERIES[name]
        try:
            load1[name] = round(os.getloadavg()[0], 1)
            t0 = time.time()
            spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold[name] = round(time.time() - t0, 3)
            best = best_of_3(spec)
            floor = floors.get(name)
            if floor is not None and best > 2 * floor and rerun_budget > 0:
                first = best
                n_extra = 0
                for _ in range(3):
                    if rerun_budget <= 0:
                        break
                    rerun_budget -= 1
                    n_extra += 1
                    best = min(best, best_of_3(spec))
                    if best <= 2 * floor:
                        break
                reruns[name] = {
                    "first_min": round(first, 3),
                    "final": round(best, 3),
                    "extra_rounds": n_extra,
                    "floor": floor,
                    "load1_end": round(os.getloadavg()[0], 1),
                }
                if best > 2 * floor:
                    over_floor.append(name)
            timings[name] = round(best, 3)
            flag = " RERUN" if name in reruns else ""
            print(
                f"# {name}: warm={timings[name]}s cold={cold[name]}s load1={load1[name]}{flag}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            msg = str(exc).strip().splitlines()
            errors[name] = f"{type(exc).__name__}: {msg[0] if msg else ''}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "queries_load1": load1,
        "sf": sf,
        "cold_total_sec": round(sum(cold.values()), 3),
        "warmup_sec": warmup_sec,
    }
    if reruns:
        out["reruns"] = reruns
    if over_floor:
        # still >2x floor after up to 3 extra best-of-3 rounds: either a
        # real regression or a sustained burst — named so the round report
        # can adjudicate instead of inferring from totals
        out["over_floor_after_rerun"] = sorted(over_floor)
    if rerun_budget <= 0:
        out["rerun_budget_exhausted"] = True
    if errors:
        out["errors"] = errors
    # The driver records only a bounded tail of stdout, so the one
    # authoritative JSON line can get truncated mid-line and fail to parse.
    # Defense in depth: (1) persist the full metric JSON to BENCH_DETAIL.json
    # next to this script, (2) print the full line first, (3) end with a
    # compact line (totals + the 20 slowest warm timings only — r02-r04 all
    # failed to parse because a full 64-query map is >2000 chars) that fits
    # the 2000-char tail with ample headroom as the headline set grows.
    # $SPARK_GRAFT_BENCH_DETAIL redirects the persisted detail file so a
    # smoke run (e.g. the pytest contract gate at sf0.001) cannot clobber
    # the committed sf0.1 artifact.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    try:
        parent = os.path.dirname(detail_path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        # The detail file is best-effort (the stdout JSON line is the
        # contract), but a silent pass hid a missing-directory failure —
        # say what happened so a missing artifact is explainable.
        print(f"bench: could not write detail file {detail_path}: {exc}", file=sys.stderr)
    print(json.dumps(out))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    compact = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in slowest.items()},
        "n_queries": len(timings),
        "sf": sf,
        "cold_total_sec": out["cold_total_sec"],
        "n_errors": len(errors),
        "n_reruns": len(reruns),
        "n_over_floor": len(over_floor),
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    assert len(line) + 1 <= 1800, f"compact bench line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
