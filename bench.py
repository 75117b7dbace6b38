"""Benchmark harness: the headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS].

Every query runs through ``runner.run_query``: build, plan, execute
into the noop sink (full execution, no driver-side collect), then
release its pins. The headline protocol is one warm-up run per query at
sf0.001 (JVM, codegen and parquet reader paths), then two runs at the
bench scale.

Output:
  * ``BENCH_DETAIL.json`` holds ``queries``, each query's min-of-2 wall
    seconds, and ``layers``, each query's per-layer record
    (``build_s``, ``plan_s``, ``exec_s``, ``build_jobs``, ``plan_jobs``,
    ``exec_jobs``). The record is the second run's: the first run at a
    scale pays that scale's parquet schema inference jobs, and from the
    second run on the build and plan job counts repeat exactly (exec
    counts can move by a few AQE jobs). The same map is also printed on
    its own stdout line.
  * The LAST stdout line is a compact JSON object:
        {"metric": ..., "value": <total_sec>, "unit": "sec",
         "n_queries": N, "sf": <sf>}
    where ``sf`` is the number in the data dir's ``sf<x>`` name, or null
    for a dir named otherwise.

``python bench.py --full`` runs every registered query once and writes
the same two maps to ``BENCH_FULL.json``.

``python bench.py --compare PREV.json [--detail CUR.json]`` gates on job
counts, not wall time: it exits 1 when a query shared by both files runs
more jobs in any layer than in PREV, 2 when either file has no
``layers`` record, and 0 otherwise.
"""

from __future__ import annotations

import json
import os
import re
import sys

from pyspark.sql import SparkSession

from spark_streaming_practicum_spark.catalog import DEFAULT_SF_DIR
from spark_streaming_practicum_spark.registry import all_queries
from spark_streaming_practicum_spark.runner import run_query
from spark_streaming_practicum_spark.session import build_session, driver_memory


def _cpu_sample() -> dict | None:
    """One /proc/stat aggregate-cpu snapshot (Linux only; None elsewhere)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        # cpu user nice system idle iowait irq softirq steal
        vals = [int(x) for x in parts[1:9]]
        return {"total": sum(vals), "iowait": vals[4], "steal": vals[7]}
    except (OSError, ValueError, IndexError):
        return None


def _host_signature(start: dict | None) -> dict:
    """Steal/iowait percentage over the bench window plus 1-min loadavg:
    a shared host's steal moves wall time with no plan change."""
    sig: dict = {}
    try:
        sig["loadavg1"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    end = _cpu_sample()
    if start and end and end["total"] > start["total"]:
        dt = end["total"] - start["total"]
        sig["steal_pct"] = round(100.0 * (end["steal"] - start["steal"]) / dt, 2)
        sig["iowait_pct"] = round(100.0 * (end["iowait"] - start["iowait"]) / dt, 2)
    return sig


HEADLINE = [
    # relational core
    "agg_pricing_summary",
    "agg_count_distinct",
    "join_q3_shipping_priority",
    "join_q5_local_supplier",
    "join_broadcast_star",
    "window_topk_per_group",
    "window_sessionize",
    # streaming-shaped
    "stream_sliding_window",
    "stream_session_window",
    # ingestion parity (full parse->validate->route pipeline)
    "ingest_route_valid_agg",
    # north star
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_ann_ivf",
    "text_term_frequency",
    "text_fingerprint",
    # TPC-H depth
    "q4_order_priority",
    "q19_discounted_revenue",
    # training pipeline
    "text_lang_id_trigram",
    "text_chunk_fixed_tokens",
    "pack_sequences_budget",
    "embedding_quantize_int8",
    # retrieval / web curation
    "text_bm25_topk",
    "domain_quota_sample",
    # capstones
    "dedup_cluster_representatives",
    "asof_join_last_click",
    "dedup_crossdoc_ngram_coverage",
    "graph_pagerank_trade",
    "ts_interpolate_linear",
    "cdc_snapshot_diff",
    "geo_grid_knn_join",
    "kmeans_lloyd_assignments",
    "rolling_wau_hll",
    "hbos_outlier_score",
    "jl_random_projection",
    "plsa_em_step_topics",
    "agg_bitmap_distinct",
    "drift_ks_two_sample",
    "ab_test_mann_whitney",
    "graph_sssp_bellman_ford",
    "coreset_kcenter_greedy",
    "boilerplate_domain_segments",
    "pipeline_pretraining_prep",
    "eval_auc_exact",
    "t5_span_corruption_prep",
    "scd2_incremental_apply",
    "spearman_rank_correlation",
    "kruskal_wallis_h",
    # expensive families added round 2 so regressions stay visible
    "dedup_embedding_cosine",
    "sparse_cosine_pairs_topk",
    "fuzzy_join_blocked_levenshtein",
    "q9_product_profit",
    "scd2_user_state_history",
    # round-2 LLM-pipeline additions
    "semdedup_cluster_prune",
    "dsir_importance_weights",
    "mm_phash_near_dup",
    "bpe_learn_merges",
    "mm_audio_energy_windows",
    "quality_model_score",
    "contrastive_pair_mining",
    "sft_pack_conversations",
    "url_canonicalize_dedup",
    # round-2 continuation: eval metrics, balancing, iterative ML
    "eval_ndcg_at_k",
    "dedup_paragraph_exact",
    "pca_power_iteration_top_pc",
    "logreg_gd_two_steps",
    "lang_temperature_resample",
    # late round-2: robust stats, stump/PQ learning, containment dedup
    "median_mad_outliers",
    "chi2_feature_selection",
    "dedup_containment_overlap",
    "decision_stump_info_gain",
    "embedding_pq_codebook",
    "eval_rouge2_pairs",
    "attribution_last_touch_linear",
    "poisson_bootstrap_ci",
    "sim_mmr_diversified_topk",
    "embedding_knn_outlier_score",
    "lm_kneser_ney_bigrams",
    "linkage_fellegi_sunter_em",
    "rm3_query_expansion",
    # round-3 additions: new plan topologies stay visible to regressions
    "xicor_correlation",
    "bradley_terry_one_step",
    "ngram_draft_acceptance_rate",
    "intra_doc_segment_dedup",
    "grpo_group_advantage",
    "benjamini_hochberg_fdr",
    "curriculum_perplexity_stages",
    "crosslingual_margin_mining",
    "ul2_denoiser_mix",
    "agg_group_logsumexp",
    "interval_overlap_join_bucketized",
    "dp_laplace_noisy_counts",
    "linkage_sorted_neighborhood",
    "eval_interrater_agreement",
    "sketch_join_size_estimate",
    "incremental_join_refresh",
    "dedup_cluster_quality_representative",
    # round-4 additions
    "dedup_simhash",
    "dedup_longest_shared_run",
    "cdc_content_defined_chunks",
    "moe_router_load_balance",
    "doremi_domain_reweight_step",
    "ab_sequential_msprt",
    "stream_watermark_lateness_plan",
    "granger_lag_causality",
    "retrieval_dirichlet_ql",
    "dedup_bloom_incremental",
    "minhash_merge_certificate",
    "nb_lang_classifier_eval",
    "survival_cox_one_step",
    "ml_isotonic_calibration",
    "drift_wasserstein_1d",
    # round-5 additions
    "sketch_misra_gries_heavyhitters",
    "sketch_quantile_mergeable",
    "sample_weighted_es",
    "graph_hits_hubs_authorities",
    "retrieval_maxsim_late_interaction",
    "basket_apriori_triples",
    "audit_benford_first_digit",
    "robust_theil_sen_slope",
    "attribution_markov_removal",
    "ts_sax_motif_pairs",
    "ml_dbscan_grid_clusters",
    "linkage_symspell_edit1",
    "causal_uplift_two_model",
    "agg_time_decayed_leaderboard",
    "join_yannakakis_semijoin_reduce",
    "opt_zonemap_skipping_audit",
    "window_running_distinct_types",
    "agg_weighted_median_groups",
    "sql_collation_case_insensitive",
    "opt_join_cardinality_estimate",
    "mm_audio_constellation_match",
    "ts_holt_linear_forecast",
    "ml_gmm_em_step",
    "ml_ols_normal_equation",
    "graph_random_walk_deterministic",
    "sketch_bloom_fpr_audit",
    "text_rake_keyphrases",
    "opt_agg_pushdown_eager",
    "ts_interval_islands_merge",
    "ab_cuped_variance_reduction",
    "graph_clustering_coefficient",
    "lm_stupid_backoff_trigram",
    "window_alert_hysteresis",
    "sql_session_variables",
    # round-6 additions
    "stats_mcnemar_paired",
    "stats_mantel_haenszel_or",
    "stats_runs_test_daily",
    "drift_mmd_linear_paired",
    "ts_kendall_tau_daily",
    "ts_page_hinkley_drift",
    "eval_bleu2_corpus",
    "graph_katz_centrality",
    "privacy_dp_topk_exponential",
    "eval_chrf2_pairs",
    "rlhf_dpo_implicit_reward",
    "eval_cer_pairs",
    "ts_hurst_rescaled_range",
    "graph_mst_boruvka_round",
    "window_sliding_median_daily",
    "stats_bartlett_variances",
    "stats_cochran_q",
    "ts_dft_top_periods",
    "stats_jonckheere_terpstra",
    "sketch_count_min_audit",
    "opt_selinger_join_order",
    "ml_quantile_reg_pinball",
    "opt_histogram_selectivity_audit",
    "ts_cross_correlation_ccf",
    "revenue_theil_index",
    "window_bollinger_bands_daily",
]


LAYER_JOBS = ("build_jobs", "plan_jobs", "exec_jobs")


def compare(current_path: str, prev_path: str) -> int:
    """Diff the per-layer job counts of two detail files: 1 when a shared
    query runs more jobs in any layer than before, 2 when either file has
    no ``layers`` record, 0 otherwise."""
    layers = {}
    for label, path in (("current", current_path), ("previous", prev_path)):
        with open(path) as f:
            detail = json.load(f)
        if detail.get("host"):
            print(f"host[{label}]: {json.dumps(detail['host'], sort_keys=True)}")
        layers[label] = detail.get("layers")
        if not layers[label]:
            print(f"{path} has no layers record: job counts cannot be compared")
            return 2
    cur, prev = layers["current"], layers["previous"]
    shared = sorted(set(cur) & set(prev))
    print(f"compared per-layer job counts of {len(shared)} shared queries vs {prev_path}")
    rises = [
        f"RISE {name} {key}: {prev[name][key]} -> {cur[name][key]}"
        for name in shared
        for key in LAYER_JOBS
        if cur[name][key] > prev[name][key]
    ]
    print("\n".join(rises) if rises else "no layer runs more jobs")
    return 1 if rises else 0


def sf_label(sf_dir: str) -> float | None:
    """The scale factor a data dir is named for (``.../sf0.1/`` -> 0.1);
    None for a dir not named ``sf<number>``, such as a replicated lake."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def _start(app_name: str) -> tuple[str, float | None, SparkSession]:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_label(sf_dir)
    # Local mode: driver == executor; cached intermediates from 80+
    # queries would otherwise thrash an 8g storage pool. Capped by the
    # host's MemAvailable, like every session default.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", driver_memory(24))
    return sf_dir, sf, build_session(app_name=app_name)


def _write_detail(filename: str, detail: dict) -> None:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), filename)
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)


def full_sweep() -> None:
    """--full: one run of every registered query at sf_dir, no warm-up,
    written to BENCH_FULL.json. A coverage net for the queries outside
    the headline; compare with
        python bench.py --compare BENCH_FULL_prev.json --detail BENCH_FULL.json
    """
    sf_dir, sf, spark = _start("ssp-bench-full")
    cpu0 = _cpu_sample()
    defs = all_queries()
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in sorted(defs):
        try:
            run, _ = run_query(spark, defs[name].fn, sf_dir)
        except Exception as exc:  # noqa: BLE001 — recorded, sweep continues
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        timings[name] = round(run.wall_s, 3)
        layers[name] = run.record()
    total = round(sum(timings.values()), 3)
    metric = "full-registry query wall time (noop-materialized, 1 run)"
    _write_detail(
        "BENCH_FULL.json",
        {
            "metric": metric,
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "queries": timings,
            "layers": layers,
            "errors": errors,
            "sf": sf,
            "host": _host_signature(cpu0),
        },
    )
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "n_errors": len(errors),
                "sf": sf,
            }
        )
    )
    for name, err in sorted(errors.items()):
        print(f"FULL-SWEEP FAILED {name}: {err}", file=sys.stderr)
    spark.stop()
    sys.exit(1 if errors else 0)


def main() -> None:
    sf_dir, sf, spark = _start("ssp-bench")
    defs = all_queries()

    # One warm-up run per headline query at the smallest scale: JVM,
    # codegen and parquet reader paths. A warm-up failure means the
    # query itself is broken: fail and name it.
    warm_failures: list[tuple[str, str]] = []
    for name in HEADLINE:
        if name not in defs:
            warm_failures.append((name, "not in registry"))
            continue
        try:
            run_query(spark, defs[name].fn, DEFAULT_SF_DIR)
        except Exception as exc:  # noqa: BLE001 — reported and fatal below
            warm_failures.append((name, f"{type(exc).__name__}: {exc}"))
    if warm_failures:
        for name, err in warm_failures:
            print(f"WARMUP FAILED {name}: {err[:300]}", file=sys.stderr)
        spark.stop()
        sys.exit(2)
    # Host signature covers the MEASURED window only (warmup excluded).
    cpu0 = _cpu_sample()

    # Min of 2 runs per query: the host is shared, and the minimum is the
    # stable estimator of plan cost under background load. The layer
    # record is the second run's (see the module docstring).
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for name in HEADLINE:
        runs = [run_query(spark, defs[name].fn, sf_dir)[0] for _ in range(2)]
        timings[name] = round(min(run.wall_s for run in runs), 3)
        layers[name] = runs[1].record()

    total = round(sum(timings.values()), 3)
    metric = "headline query wall time (noop-materialized)"
    detail = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "layers": layers,
        "sf": sf,
        "host": _host_signature(cpu0),
    }
    _write_detail("BENCH_DETAIL.json", detail)
    # The full map on its own stdout line; the FINAL line is compact so a
    # bounded tail capture always parses it.
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--compare":
        detail = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
        if len(sys.argv) >= 5 and sys.argv[3] == "--detail":
            detail = sys.argv[4]
        sys.exit(compare(detail, sys.argv[2]))
    if len(sys.argv) >= 2 and sys.argv[1] == "--full":
        full_sweep()
    main()
