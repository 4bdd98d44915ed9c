"""Benchmark harness: times the engine's HEADLINE registry rows and
prints the result as JSON lines.

Method: one shared Spark session on ``local[$SPARK_GRAFT_CPUS]`` first
builds the four session-cached durable indexes (untimed, reported as
``index_warmup_s``), then runs the whole HEADLINE list in INTERLEAVED
rounds, so a host-side noise burst lands on one run of a query rather
than all of them. Each query's number is the median of its runs (plan
build + execution + collect of the small result); a round that would
not fit the wall-clock budget is skipped. One
``curate_corpus_gated_audit`` run follows as the end-to-end curation
tail.

Environment:

* ``SPARK_GRAFT_SF_DIR``: data directory (default: the sf0.1 test data);
* ``SPARK_GRAFT_CPUS``: local cores (read by ``session.get_spark``);
* ``SPARK_GRAFT_BENCH_RUNS``: interleaved rounds (default 3);
* ``SPARK_GRAFT_BENCH_BUDGET_S``: wall-clock budget for warm-up plus
  rounds (default 480).

Output, in this order: ``{"index_warmup_s"}``; a verbose line with cold
times, 3-dp medians and the methodology; ``{"curate_corpus_gated_e2e_s"}``;
and LAST the compact line ``{"metric", "value", "unit", "queries",
"sf"}``, where ``value`` is the sum of medians. Only the tail of stdout
is archived, so the compact line must come last and stay within 1,880
chars: medians drop to 1 dp, then the cheapest rows fold into
``_others`` until it fits.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HEADLINE = [
    # tabular / TPC-H-shaped
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_revenue_forecast",
    "filter_pushdown_orders",
    "latest_order_per_customer",
    "histogram_quantity",
    "q10_returned_revenue",
    "q18_large_orders",
    "q7_volume_shipping",
    "q13_order_count_distribution",
    "q8_market_share",
    "q19_disjunctive_revenue",
    "q2_min_cost_supplier",
    "q4_priority_exists",
    "q11_important_nation_share",
    "q12_late_shipment_priority",
    "q16_supplier_variety",
    "q21_sole_late_supplier",
    "funnel_view_click_purchase",
    "heavy_hitter_tokens",
    # temporal / sampling / analytics
    "asof_join_events_orders",
    "interval_join_purchase_follow",
    "hash_sample_orders",
    "percentiles_by_returnflag",
    "rolling_revenue_7d",
    "sketch_distinct_profile",
    # RAG path
    "chunk_fixed_documents",
    "chunk_recursive_documents",
    "chunk_semantic_documents",
    "chunk_semantic_refconst",
    "chunk_stats",
    "token_counts_documents",
    "doc_quality_scores",
    "readability_documents",
    "lang_id_documents",
    "dedup_exact_documents",
    "gopher_quality_flags",
    "decontaminate_documents",
    "dedup_clusters_documents",
    "pack_training_sequences",
    "mixture_reweight_documents",
    # corpus_release_report / curate_corpus_audit are NOT benched: the
    # composition costs ~30 s/run at sf0.1, ~20% of the budget over
    # three rounds; each stage is benched on its own (gopher/
    # dedup_clusters/decontaminate/mixture rows above).
    # cross_encoder_rerank_documents is NOT benched: ~95% of its cost is
    # the chunk+embed path the chunker and embedding rows cover; the
    # rerank stage itself is a 5-row pandas_udf.
    "pivot_priority_by_status",
    "ngram_jaccard_pairs",
    "jaccard_index_pairs",
    "minhash_signatures",
    "winnow_fingerprints",
    "substring_dedup_documents",
    # the session-cached index is pre-built in the warm-up (see main()),
    # so every round measures the pushed-h_count-predicate reads
    "substring_index_spans",
    "substring_dedup_rolling",
    "duplication_profile_documents",
    # lexical retrieval / LM stats / tokenizer
    "bm25_topk_documents",
    "bm25_batch_topk_documents",
    "tfidf_top_terms_documents",
    "bigram_lm_ppl_documents",
    "rrf_fusion_topk",
    "line_dedup_documents",
    "bpe_encode_documents",
    "vocab_coverage_documents",
    "zipf_profile_documents",
    # vectors
    "topk_cosine",
    "knn_join",
    "ivf_topk_cosine",
    "ivf_topk_cosine_kmeans",
    "brp_topk",
    "binary_quant_topk",
    "mmr_rerank_embeddings",
    "lsh_recall_at_k",
    "rank_eval_ndcg_mrr",
    "epoch_shard_plan_orders",
    "mixture_interleave_documents",
    "calibrate_binned_orders",
    "threshold_curve_orders",
    "classifier_gated_curation",
    # Lifecycle rows are NOT benched: duplication_profile_compacted,
    # threshold_curve_streamed, duplication_profile_streamed,
    # jaccard_pairs_consolidated_index and
    # trigram_search_parts_consolidated read with the same plan as a
    # benched sibling; what they add is a one-time build, stream or
    # compaction, a maintenance op rather than a query.
    # rank_eval_lsh_vs_exact is NOT benched: it composes knn_join,
    # lsh_knn_join and the rank_eval_ndcg_mrr shape, all benched, with
    # no physical stage of its own.
    # multimodal plumbing
    "media_image_meta",
    "embedding_norms",
    # events
    "events_hourly",
    "events_sessionize",
    "events_props_json",
    # time-series / graph
    "resample_interpolate_purchases",
    "anomaly_zscore_events_daily",
    "pagerank_supplier_cosupply",
    # linkage / weighted sampling / sequence analytics
    "fuzzy_match_parts",
    "trigram_search_parts",
    # pre-built in the warm-up, like substring_index_spans
    "trigram_search_parts_from_index",
    "bloom_prefilter_supplier_revenue",
    "weighted_sample_documents",
    "weighted_sample_per_lang",
    "event_transition_matrix",
    "ohlc_events_daily",
    "cumulative_new_users_daily",
    "decayed_user_value",
    "label_centroids_embeddings",
    "entropy_profile_orders",
    "embedding_dup_clusters",
    "embedding_dup_clusters_lsh",
    "winsorized_price_stats",
    "frequent_part_pairs",
    "cooccur_recommend_parts",
    "triangle_count_part_graph",
    "top_event_paths",
    "trend_by_event_type",
    "benford_price_profile",
    "scd2_customer_segments",
    # drift / robust-stats / survival family
    "psi_price_drift_orders",
    "ks_price_drift_orders",
    "chi2_priority_drift_orders",
    "js_divergence_docs_by_lang",
    "mad_outlier_prices",
    "km_time_to_purchase",
    # mergeable sketches
    "hll_weekly_rollup_events",
    "kll_quantile_profile_orders",
    "theta_overlap_customers",
    # multimodal dedup
    "media_phash_near_dups",
    # attribution / dense-substructure
    "attribution_last_touch_events",
    "k_core_part_graph",
    # data-contract validation / snapshot reconciliation
    "expectations_orders",
    "table_diff_orders_snapshots",
    # DSIR importance weights + NB domain classifier
    "dsir_weights_documents",
    "nb_lang_classify_documents",
    # embedding drift
    "embedding_drift_snapshots",
    "expectations_by_lang_documents",
    # deterministic bottom-k quantile sketch
    "sketch_quantiles_events",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from building_a_rag_pipeline_with_airflow_spark import get_spark
    from building_a_rag_pipeline_with_airflow_spark.queries import REGISTRY

    spark = get_spark(
        app_name="building_a_rag_pipeline_with_airflow_spark-bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # ~130 query executions per bench run, some (MLlib fits) tens of
            # jobs each: cap the status-listener backlog so late queries
            # aren't taxed by the session's own accumulated bookkeeping.
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100",
            "spark.ui.retainedStages": "100",
            "spark.sql.ui.retainedExecutions": "50",
        },
    )
    # Warm the JVM/codegen paths once so per-query numbers measure the
    # engine, not first-call JIT (this VM has very slow JVM warm-up).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    # Build the four session-cached durable indexes BEFORE the timed
    # rounds, so the medians measure the pushed-predicate READS even in
    # a 1-round session: on a slow host ~50 s of builds would push round
    # 1 past the early-stop threshold. The warm-up counts against the
    # same wall-clock budget (bench_t0 starts here). A failed build must
    # not abort the bench: that row then pays its build in round 1.
    bench_t0 = time.time()
    for _warm in (
        "jaccard_index_pairs",
        "substring_index_spans",
        "bm25_batch_topk_documents",
        "trigram_search_parts_from_index",
    ):
        try:
            # the collect forces the plan, so a build that is ever made
            # lazy still runs here
            REGISTRY[_warm][0](spark, sf_dir).limit(1).collect()
        except Exception as exc:
            print(f"bench: warmup build {_warm} failed: {exc}", file=sys.stderr)
    print(json.dumps({"index_warmup_s": round(time.time() - bench_t0, 1)}))

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Interleaved rounds: run the whole headline list once, then repeat.
    # After each round, stop early when another would not fit the
    # budget: a process killed before the compact line prints loses all
    # its medians.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "480"))
    all_runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    failed: set[str] = set()
    rounds_done = 0
    for _ in range(n_runs):
        round_t0 = time.time()
        for name in HEADLINE:
            if name in failed:
                continue
            fn, _ = REGISTRY[name]
            try:
                t0 = time.time()
                fn(spark, sf_dir).collect()
                all_runs[name].append(round(time.time() - t0, 3))
            except Exception as exc:  # a failed query must not hide the rest
                failed.add(name)
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
        rounds_done += 1
        round_cost = time.time() - round_t0
        if time.time() - bench_t0 + round_cost * 1.2 > budget_s:
            break
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, runs in all_runs.items():
        if name in failed or not runs:
            times[name] = -1.0
            continue
        cold[name] = runs[0]
        # lower-middle for even run counts: host-side noise only ever
        # INFLATES a run, so with 2 samples the faster one is the honest
        # estimate (upper-middle would let one spike own the number)
        times[name] = sorted(runs)[(len(runs) - 1) // 2]

    # one end-to-end run of the gated curation composition (not a
    # headline row, see the budget rationale in HEADLINE)
    try:
        t0 = time.time()
        REGISTRY["curate_corpus_gated_audit"][0](spark, sf_dir).collect()
        curate_e2e = round(time.time() - t0, 2)
    except Exception as exc:
        print(
            f"bench: curate_corpus_gated_audit tail run failed: {exc}",
            file=sys.stderr,
        )
        curate_e2e = -1.0

    total = round(sum(t for t in times.values() if t >= 0), 3)
    # Verbose line first (cold times + methodology), compact line LAST:
    # only the tail of stdout is archived.
    print(
        json.dumps(
            {
                "cold_queries": cold,
                "queries_median_3dp": times,  # the compact line may fold
                "methodology": (
                    f"median of {rounds_done} (target {n_runs}, early-stop "
                    f"at {int(budget_s)}s budget) INTERLEAVED rounds over the "
                    "headline list, one shared session (a query's runs are "
                    "spread across rounds so host-side noise bursts can't "
                    "corrupt all of them); cold_queries = first-run times "
                    "(include plan build + prior-query session noise); "
                    "totals are VM-noise-sensitive (r3: 105.3 s concurrent "
                    "vs 67.4 s solo, same commit)"
                ),
            }
        )
    )
    # The compact line must fit the archived ~2000-char stdout tail
    # whole; a line whose head is cut is unparseable. Shrink adaptively:
    # 2dp, then 1dp, then fold the cheapest rows into "_others".
    def compact_line(q: dict) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": q,
                "sf": sf,
            },
            separators=(",", ":"),
        )

    # the curation tail line and the compact line must BOTH fit the tail
    print(
        json.dumps(
            {"curate_corpus_gated_e2e_s": curate_e2e},
            separators=(",", ":"),
        )
    )
    budget = 1880
    line = compact_line({n: round(t, 2) for n, t in times.items()})
    if len(line) > budget:
        line = compact_line({n: round(t, 1) for n, t in times.items()})
    kept = {n: round(t, 1) for n, t in times.items()}
    folded = 0.0
    for n in sorted(times, key=times.get):  # cheapest first
        if len(line) <= budget:
            break
        folded += max(kept.pop(n), 0.0)
        kept["_others"] = round(folded, 1)
        line = compact_line(kept)
    print(line)


if __name__ == "__main__":
    main()
