"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value" (total sec), "unit", "queries", "sf"}.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collection cost skewing the numbers).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_neotel_sql_automation_spark import workload
from etl_neotel_sql_automation_spark.session import get_spark

# Headline set: scan+agg, star joins, windows, set ops, JSON, dedup,
# text analysis, similarity — the operators whose cost scales with data.
#
# FROZEN comparison sets (append-only policy): STABLE_27 has been
# byte-stable since r2; STABLE_33 (the r4 freeze) adds the r4 entries.
# New rounds APPEND to ADDITIONS and report per-set sums, so every
# historical BENCH_r{N}.json stays comparable against the matching set.
STABLE_27 = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_region_volume",
    "flagship_region_revenue",
    "agg_distinct_priority",
    "agg_rollup_flags",
    "window_running_supplier",
    "window_topk_per_priority",
    "sort_topk_orders",
    "set_intersect_repeat_buyers",
    "json_events_extract",
    "events_hourly_tumbling",
    "etl_conform_conducta",
    "dedup_fingerprint_docs",
    "dedup_minhash_candidates",
    "dedup_minhash_xxhash64",
    "text_analyze_docs",
    "sim_cosine_topk",
    "asof_events_orders",
    "sessionize_events",
    "join_salted_skew",
    "agg_percentiles",
    "etl_conform_estados",
    "range_join_events",
    "pandas_grouped_outliers",
    "merge_upsert_orders",
    "q7_nation_volume",
]
STABLE_33 = STABLE_27 + [
    "sim_ivf_pq_sampled",
    "dedup_semantic_prune",
    "quality_gopher_rules",
    "text_dup_span_stats",
    "quality_dsir_weights",
    "pretrain_pipeline_e2e",
]
STABLE_37 = STABLE_33 + [
    # the r5 freeze: hashing-trick production twins, the LSH-indexed
    # margin miner (each beside its exact/brute twin already in the
    # set), and the bloom-prefiltered decontamination guard
    "quality_dsir_weights_hashed",
    "text_bigram_lm_hashed",
    "sim_margin_pairs_indexed",
    "decontam_bloom_prefilter",
]
# r6 additions: the sampled twins of the exact quality-meter legs —
# the 100 TB metering recipe as executable queries — plus the round's
# replayable-sketch/sampling family (CMS heavy hitters, linear-count
# cardinality, Efraimidis-Spirakis weighted top-k).
ADDITIONS = [
    "sim_margin_quality_sampled",
    "dedup_semantic_quality_sampled",
    "text_heavy_hitters_cms",
    "distinct_linear_counting",
    "sample_weighted_es_topk",
    # r6 wave 3: prefix-filtered set-similarity join (output-invariant
    # vs the brute threshold join), k-core peeling, df-capped
    # inverted-index sparse cosine, grid-bucketed spatial kNN
    "dedup_jaccard_prefix",
    "graph_kcore",
    "text_sparse_cosine_topk",
    "geo_grid_knn",
    # r6 wave 3b: corpus-level source similarity (mergeable MinHash +
    # exact differential), banded multi-touch attribution, truncated-
    # integer EWMA anomaly baseline
    "corpus_source_minhash",
    "events_attribution",
    "events_ewma_anomaly",
    # r6 wave 3c: distributed skyline (bucketed prefix-max), grid
    # density hotspot clustering (true-CC over top-decile cells)
    "skyline_suppliers",
    "geo_grid_dbscan",
    "events_sequence_mining",
    # r6 wave 3d: interval-overlap session join, TextRank keywords,
    # multi-evidence entity resolution
    "events_session_overlap",
    "text_textrank_keywords",
    "link_customer_entities",
    "dq_merkle_diff",
    # r6 wave 3e: HITS, personalized-PageRank recommendations,
    # half-life-decayed customer value
    "graph_hits",
    "graph_ppr_recommend",
    "orders_decayed_value",
    "corpus_source_clusters",
    "events_pattern_match",
    # r6 wave 4: hybrid-retrieval RRF fusion, capped inverted index,
    # cross-source quantile calibration, link prediction, golden-record
    # survivorship, seed-deterministic epoch shuffle, Matryoshka
    # truncation recall meter
    "sim_rrf_fusion",
    "text_inverted_index",
    "quality_quantile_normalize",
    "graph_link_predict",
    "link_golden_record",
    "train_epoch_shuffle",
    "emb_matryoshka_recall",
    # r6 wave 8: FIFO-as-prefix-sum allocation, Kneser-Ney LM,
    # t-closeness privacy audit, Theil-Sen robust trend, monthly
    # OHLC+VWAP bars, functional-dependency (g3) audit
    "inventory_fifo_allocation",
    "text_kneser_ney_top",
    "privacy_t_closeness",
    "timeseries_theil_sen",
    "lineitem_monthly_ohlc_vwap",
    "dq_fd_violations",
    # r6 wave 9: cross-source BLEU novelty meter, exact interpolated
    # percentiles, purchase-graph assortativity
    "corpus_cross_bleu",
    "agg_percentile_cont_exact",
    "graph_degree_assortativity",
    # r6 wave 10: running COUNT(DISTINCT) workaround, daily TWAP
    "window_running_distinct",
    "events_twap_daily",
    # r6 wave 11: SCD2 point-in-time join, trimmed mean, packing meter
    "scd2_point_in_time_join",
    "agg_trimmed_mean",
    "train_packing_efficiency",
    # r6 wave 12: z-order pruning meter, one-pass bootstrap CI, PSI
    # drift, calibration/ECE, Cohen's kappa, info-gain feature ranking
    "io_zorder_layout",
    "agg_bootstrap_ci",
    "quality_psi_drift",
    "quality_calibration_bins",
    "agg_cohens_kappa",
    "quality_info_gain",
    # r6 wave 13: exact Wasserstein drift, Mann-Whitney U, lexical
    # diversity
    "quality_wasserstein_drift",
    "agg_mann_whitney",
    "text_lexical_diversity",
    # r6 wave 14: CMS join-size estimation, KS drift, n-gram coverage
    "diag_join_size_estimate",
    "quality_ks_drift",
    "text_ngram_coverage",
    # r6 wave 15: OOV rate, sequential-key audit, inter-arrival
    # quartiles, dedup-impact report
    "text_oov_rate",
    "dq_sequential_gaps",
    "orders_interarrival_quartiles",
    "quality_dedup_impact",
    # r6 wave 16: water-filling allocation, RFM migration matrix
    # (streaming_oov_monitor stays out of bench, matching the policy
    # of not timing streaming session startup)
    "alloc_water_filling",
    "orders_rfm_migration",
    # r6 wave 17: Spearman, Kruskal-Wallis, nation modularity, coding
    # length
    "agg_spearman_corr",
    "agg_kruskal_wallis",
    "graph_modularity_nations",
    "text_coding_length",
    # r6 wave 18: FK orphan audit, embedding anisotropy, Holt fold
    "dq_referential_orphans",
    "emb_anisotropy_ratio",
    "timeseries_holt_linear",
    # r6 wave 19: greedy knapsack, DP sensitivity audit, Theil
    # decomposition, seasonal decomposition
    "curation_greedy_knapsack",
    "privacy_sensitivity_audit",
    "orders_theil_decomposition",
    "timeseries_seasonal_decompose",
    # r6 wave 20: CUPED, power/MDE, Hill tail index, changepoint
    "events_cuped_adjustment",
    "events_power_mde",
    "agg_hill_tail_index",
    "timeseries_best_split",
    # r6 wave 21: duplicate payments, p-chart SPC, funnel latency
    "dq_duplicate_payments",
    "quality_pchart_returns",
    "events_funnel_latency",
    # r6 wave 22: seasonal anomaly composition, bag set ops,
    # share-of-parent drill
    "timeseries_seasonal_anomaly",
    "set_except_all_returns",
    "set_intersect_all_returns",
    "part_share_of_parent",
    # r6 wave 23: binary Hamming retrieval, Markov stationary
    # (streaming_pchart_returns stays out of bench per streaming policy)
    "emb_binary_hamming_topk",
    "events_markov_stationary",
    # r6 wave 24: binary recall meters, rerank path, Pareto/NBD inputs
    "emb_binary_quality",
    "emb_binary_rerank_topk",
    "emb_binary_rerank_quality",
    "orders_pareto_nbd_inputs",
    # r6 wave 25: NRR cohorts, supplier scorecard, DAU/MAU stickiness
    "orders_nrr_cohorts",
    "supplier_scorecard",
    "events_stickiness",
    # r6 wave 26: SPRT sequential monitor, weekday concentration
    "events_sprt_monitor",
    "orders_weekday_concentration",
    # r6 wave 27: contrastive pairs, rolling median
    "train_contrastive_pairs",
    "timeseries_rolling_median",
    # r6 wave 28: MinHash-LSH S-curve meter
    "dedup_minhash_s_curve",
    # r6 wave 29: price-volume-mix decomposition, MLM masking audit
    "orders_price_volume_mix",
    "train_mlm_masking_stats",
    # r6 wave 30: winsorization transform with clip accounting
    "quality_winsorize_orders",
    # r7 wave 31: rank-aware retrieval meters (MRR/NDCG/MAP, PR curve)
    "emb_rerank_rank_metrics",
    "emb_rerank_pr_curve",
    # r7 wave 32: Brier decomposition, charset hygiene profile
    "quality_brier_decomposition",
    "text_charset_profile",
    # r7 wave 33: Croston/SBA intermittent-demand forecast
    "timeseries_croston",
    # r7 wave 34: Markov removal-effect channel attribution
    "events_markov_attribution",
    # r7 wave 35: JL sign-projection distortion meter
    "emb_jl_distortion",
    # r7 wave 36: Hilbert layout beside the Morton pruning meter
    "io_hilbert_layout",
    # r7 wave 37: gate tuning curve, length-bucket padding audit
    "quality_gate_sweep",
    "train_length_bucket_padding",
    # r7 wave 38: Holt-Winters seasonal forecast, tokenizer fertility
    "timeseries_holt_winters",
    "text_tokenizer_fertility",
    # r7 wave 39: SES alpha sweep, k-anonymity generalization ladder
    "timeseries_ses_sweep",
    "privacy_generalization_ladder",
    # r7 wave 40: Shapley airport cost shares, ABC-XYZ matrix
    "alloc_shapley_airport",
    "lineitem_abc_xyz",
]
# The r7-close freeze (byte-stable from r8 on): the full 155-entry
# headline as it stood when round 7 closed. r8+ rounds append to
# ADDITIONS_R8 and report stable155_seconds alongside the older sums,
# so every historical BENCH_r{N}.json stays comparable per set.
STABLE_155 = STABLE_37 + ADDITIONS
ADDITIONS_R8 = [
    # r8: sampled twins of the rank-aware retrieval meters (the
    # 100 TB metering recipe registered), deployed-write layout ladder
    "emb_rerank_rank_metrics_sampled",
    "emb_rerank_pr_curve_sampled",
    "io_hilbert_layout_deployed",
    # r8 wave 41: the experimentation stack composed end-to-end
    "experiment_pipeline_e2e",
    # r8 wave 42: SRM guardrail, difference-in-differences
    "events_srm_check",
    "events_diff_in_diff",
    # r8 wave 43: train/eval near-dup leakage audit
    "split_leakage_audit",
    # r8 wave 44: Jaccard threshold tuning curve
    "dedup_threshold_sweep",
    # r8 wave 45: hierarchical forecast reconciliation
    "forecast_reconcile_hierarchy",
    # r8 wave 46: split-conformal interval audit
    "quality_conformal_bounds",
    # r8 wave 47: cluster-routed split (the wave-43 leak, fixed)
    "split_cluster_routing",
    # r8 wave 48: Welch unequal-variance t-test
    "events_welch_ttest",
    # r8 wave 49: post-stratified A/B readout
    "events_post_stratified",
    # r8 waves 50-64 (second session): classical + uplift + OPE
    # readouts, regression/elasticity, PAV, PACF/cross-corr, energy
    # distance, permutation null, cluster-robust SE, Heaps' law
    # (streaming_welch_monitor stays out per the streaming policy)
    "events_anova_f",
    "quality_roc_auc",
    "lineitem_ols_normal_eq",
    "timeseries_cross_corr",
    "quality_isotonic_calibration",
    "timeseries_pacf",
    "events_qini_uplift",
    "lineitem_price_elasticity",
    "events_tukey_pairs",
    "orders_energy_distance",
    "events_permutation_test",
    "events_ips_offpolicy",
    "events_cluster_robust_se",
    "text_heaps_law",
    "lineitem_within_estimator",
    "text_term_dispersion",
    "sim_rocchio_feedback",
    "orders_littles_law",
    "events_event_study",
    "events_bh_fdr",
    "dedup_capture_recapture",
    "sample_neyman_allocation",
]
# Round-9 additions: waves 73-75 (multimodal parity + sampling/robust)
ADDITIONS_R9 = [
    "multimodal_dim_profile",
    "multimodal_phash_quality",
    "multimodal_phash_capture_recapture",
    "multimodal_byte_entropy",
    "multimodal_clipping_rate",
    "multimodal_silence_runs",
    "sample_weighted_reservoir",
    "agg_median_of_means",
    "text_doc_perplexity",
    "timeseries_spectral_peaks",
    "multimodal_phash_threshold_sweep",
    "graph_closeness_bfs",
    "orders_pareto_front",
]
# Round-10 additions: the real-codec roundtrip and the embedding-LSH
# coverage audit (r9 VERDICT #3/#4)
ADDITIONS_R10 = [
    "multimodal_codec_roundtrip",
    "dedup_embedding_capture_recapture",
]
HEADLINE = STABLE_155 + ADDITIONS_R8 + ADDITIONS_R9 + ADDITIONS_R10

# Frozen-set sums reported per round (name -> query list).
FROZEN_SETS = {
    "stable27": STABLE_27,
    "stable33": STABLE_33,
    "stable37": STABLE_37,
    "stable155": STABLE_155,
    # the full r8 headline, frozen at r9 open
    "stable190": STABLE_155 + ADDITIONS_R8,
    # the full r9 headline, frozen at r10 open to baseline r11
    "stable203": STABLE_155 + ADDITIONS_R8 + ADDITIONS_R9,
}

# Queries that run Spark jobs DURING plan construction (quantizer
# training, candidate-matrix localCheckpoint): bench reports their
# construct/exec split separately so a regression is attributable to
# the right stage. `queries` values stay construct+exec totals, so
# every historical BENCH_r{N}.json remains comparable.
CONSTRUCT_SPLIT = {
    "sim_ivf_pq_sampled",
    "sim_margin_pairs_indexed",
    "sim_margin_quality_sampled",
    # localCheckpoints the 25-row nation-series frame at construct
    "forecast_reconcile_hierarchy",
    # r8 second session: checkpoint bounded intermediates at construct
    # (day grid / bin ladder / arm frame)
    "timeseries_cross_corr",
    "timeseries_pacf",
    "quality_isotonic_calibration",
    "events_tukey_pairs",
    # r9: the pHash ladder localCheckpoints its decode pass once at
    # construct (the 62 -> 7 s probe lesson)
    "multimodal_phash_neardup",
    "multimodal_phash_quality",
    "multimodal_phash_capture_recapture",
    "multimodal_phash_threshold_sweep",
    # r10: the wave-78 audit checkpoints its banded candidate frame at
    # construct (the wave71 lesson)
    "dedup_embedding_capture_recapture",
    # r11 (ADVICE): r10 added eager construct-time checkpoints to the
    # triangle edge/degree frames and the BFS rounds without adding
    # them here — the exact conflation this set exists to prevent
    "graph_triangle_count",
    "graph_closeness_bfs",
    # r11: the cluster family's prefix-filtered candidate frame is
    # localCheckpointed at construct (materialize=True), and the CC
    # fixpoint rounds were already construct-time jobs
    "dedup_token_jaccard",
    "dedup_clusters",
    "dedup_canonical_docs",
    "dedup_cluster_size_histogram",
}


def _minhash_xxhash64(spark, sf_dir):
    from etl_neotel_sql_automation_spark.ops import dedup as D
    from etl_neotel_sql_automation_spark.workload import table

    return D.minhash_lsh_candidates(table(spark, sf_dir, "documents"), hash_fn="xxhash64")


# Bench-only entries (not in the driver registry): the registered
# dedup_minhash_candidates runs hash_fn="md5" so its DuckDB oracle is
# bit-exact; production defaults to xxhash64 (ops/dedup.py). Bench BOTH
# so the headline reflects the production cost and the md5
# differential-checking premium stays quantified per-round.
EXTRA_QUERIES = {"dedup_minhash_xxhash64": _minhash_xxhash64}


def _warm(spark, qs, sf_dir) -> None:
    """Untimed session warm-up: JVM/codegen startup on a tiny query so
    it isn't charged to the first timed entry, plus a Pandas-UDF no-op
    so the Python worker pool measures steady state, not fork cost."""
    qs["sort_topk_orders"](spark, sf_dir).write.mode("overwrite").format("noop").save()
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    warm = F.pandas_udf(lambda s: s * 1.0, returnType=T.DoubleType())
    spark.range(1000).select(warm(F.col("id").cast("double"))).write.mode(
        "overwrite"
    ).format("noop").save()
    # one untimed tiny streaming query (r10 VERDICT #6): the first
    # streaming entry otherwise absorbs the session's streaming
    # machinery startup (state-store providers, offset/commit log
    # plumbing) — measured ~7 s on a cold session's first stream
    from etl_neotel_sql_automation_spark.streaming.landing import (
        stream_events_hourly,
    )

    stream_events_hourly(spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).format("noop").save()


def _session_conf(spark) -> dict[str, str]:
    """The config summary recorded per bench session (r9 VERDICT #2:
    cross-round per-query diffs need to know WHICH session produced a
    number)."""
    out = {"spark_version": spark.version}
    for key in (
        "spark.app.name",
        "spark.master",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.driver.memory",
        "spark.sql.ansi.enabled",
    ):
        try:
            out[key] = spark.conf.get(key)
        except Exception:  # noqa: BLE001 - unset key: record absence
            out[key] = None
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(app_name="bench")
    qs = dict(workload.queries())
    qs.update(EXTRA_QUERIES)
    _warm(spark, qs, sf_dir)

    # Best-of-3 per query, measured as 3 FULL PASSES over the suite
    # rather than 3 back-to-back runs of each query: min is the
    # noise-robust estimator on a virtualized host (JIT/GC jitter swings
    # single runs several-fold), and spreading a query's repetitions
    # across passes decorrelates them from any one burst of host
    # contention. Every other pass runs in reverse order so paired
    # variants that sit adjacent in HEADLINE (the md5/xxhash64 MinHash
    # twins) each sample both early and late suite positions — r2 and r3
    # both produced ordering-biased readings that contradicted
    # controlled A/B measurement (ops/hashing.py).
    times: dict[str, float] = {name: float("inf") for name in HEADLINE}
    construct: dict[str, float] = {}
    # per-pass per-query records: the PROTOCOL note (BUILDLOG r8) —
    # run-level numbers make a round-over-round drift claim checkable
    # against the observed variance band instead of "host noise".
    passes: list[dict[str, float]] = []
    for pass_i in range(3):
        order = HEADLINE if pass_i % 2 == 0 else list(reversed(HEADLINE))
        this_pass: dict[str, float] = {}
        for name in order:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            this_pass[name] = t2 - t0
            if t2 - t0 < times[name]:
                times[name] = t2 - t0
                construct[name] = t1 - t0
        passes.append(this_pass)
    times = {name: round(t, 3) for name, t in times.items()}

    headline_conf = _session_conf(spark)

    # One COVERAGE pass over every registered query not in HEADLINE
    # (r8 VERDICT #4): single-run timings, so the entire registry
    # resolves to a per-round number in the BENCH_FULL.json sidecar
    # and a judge's >=2x regression check can cover the whole surface.
    # Single-pass (not best-of-3) keeps the added wall cost to one
    # sweep; the headline set remains the noise-robust estimator.
    #
    # Run in its OWN warmed session (r9 VERDICT #2): the r9 record's
    # headline numbers shared a JVM with the 211-entry coverage sweep,
    # so accumulated block-manager/broadcast state contaminated
    # cross-round per-query diffs (the ABDRIFT caveat). Stopping the
    # context releases every localCheckpoint block; the new session is
    # re-warmed so its first timed entry pays no startup either.
    spark.stop()
    spark = get_spark(app_name="bench-coverage")
    _warm(spark, qs, sf_dir)
    coverage_conf = _session_conf(spark)
    coverage: dict[str, float] = {}
    coverage_construct: dict[str, float] = {}
    headline_set = set(HEADLINE)
    for name in qs:
        if name in headline_set:
            continue
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        coverage[name] = round(time.perf_counter() - t0, 3)
        # coverage-resident CONSTRUCT_SPLIT entries get their split
        # recorded too (r10 ADVICE: graph_triangle_count checkpointed
        # at construct with no split row anywhere)
        if name in CONSTRUCT_SPLIT:
            coverage_construct[name] = round(t1 - t0, 3)

    total = round(sum(times.values()), 3)
    set_sums = {
        key: round(sum(times[n] for n in names), 3)
        for key, names in FROZEN_SETS.items()
    }
    full = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        # frozen-set sums for round-over-round comparability
        **{f"{k}_seconds": v for k, v in set_sums.items()},
        # per-pass per-set sums: the run-level variance record
        "runs": {
            key: [
                round(sum(p[n] for n in names), 3) for p in passes
            ]
            for key, names in FROZEN_SETS.items()
        },
        # construct-vs-exec split for the training-at-construct
        # entries (times[n] == construct + exec for these too)
        "construct_seconds": {
            n: round(construct[n], 3)
            for n in sorted(CONSTRUCT_SPLIT)
            if n in construct
        },
        # r8 VERDICT #5: total AND construct side by side for every
        # CONSTRUCT_SPLIT entry, so no round record can conflate the
        # two again (the r7->r8 sim_ivf_pq_sampled false-regression)
        "construct_split": {
            n: {"total": times[n], "construct": round(construct[n], 3)}
            for n in sorted(CONSTRUCT_SPLIT)
            if n in construct
        },
        # single-pass coverage timings for every registered query
        # outside HEADLINE — full-registry per-query record
        "coverage_pass_seconds": coverage,
        # construct split for CONSTRUCT_SPLIT entries living in the
        # coverage pass (single-run, like their totals)
        "coverage_construct_seconds": coverage_construct,
        # which session produced which numbers (r9 VERDICT #2)
        "sessions": {"headline": headline_conf, "coverage": coverage_conf},
    }
    # Full record FIRST (humans + the BENCH_FULL.json sidecar), then a
    # COMPACT summary as the LAST stdout line: the driver records only
    # the final ~2000 chars of output, so the 155-entry per-query map
    # on one line left BENCH_r*.json unparseable ("parsed": null, r7
    # VERDICT item 4). The compact line carries everything needed for
    # round-over-round comparison and fits the captured tail whole.
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(sidecar, "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    compact = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(HEADLINE),
        # set sums double as the compact "queries" map so the line
        # keeps the driver's {"queries": {name: sec}} shape
        "queries": set_sums,
        **{f"{k}_seconds": v for k, v in set_sums.items()},
        "runs": full["runs"],
        # total+construct pairs (r8 VERDICT #5) — supersedes the bare
        # construct_seconds map in the compact record
        "construct_split": full["construct_split"],
        "n_coverage": len(coverage),
        "coverage_pass_sum": round(sum(coverage.values()), 3),
        "per_query_map": "BENCH_FULL.json",
    }
    print(json.dumps(compact))
    spark.stop()


# ---------------------------------------------------------------------------
# --ab <ref>: the same-session A/B drift protocol (r9 VERDICT #7).
#
# The r9 drift question ("did r8 regress the frozen sets?") was settled
# by a /tmp script that loaded BOTH code versions into one Spark session
# and alternated passes — same JVM, same host window, so a >=10% set
# move is attributable to CODE, not session or host state. This makes
# that protocol a one-command tool: `python bench.py --ab <prev_commit>`
# writes ABDRIFT.json (override with --ab-out).
# ---------------------------------------------------------------------------


_PKG = "etl_neotel_sql_automation_spark"


def _grab_modules() -> dict:
    return {k: v for k, v in sys.modules.items() if k.startswith(_PKG)}


def _set_modules(mods: dict) -> None:
    for k in list(sys.modules):
        if k.startswith(_PKG):
            del sys.modules[k]
    sys.modules.update(mods)


def _load_queries_from(repo_root: str):
    """Import the workload registry from another checkout of this repo.
    Returns (queries_dict, modules_dict): the module set must be
    swapped back INTO sys.modules (with ``repo_root`` first on
    sys.path) whenever those callables run — many workload functions
    import ops/streaming modules at CALL time, and those imports
    resolve through sys.modules/sys.path, not through the function's
    closure. Running old-side queries without the swap silently
    executes NEW code for every late import, which corrupts exactly
    the code-attribution an A/B exists to provide."""
    saved = _grab_modules()
    _set_modules({})
    sys.path.insert(0, repo_root)
    try:
        import etl_neotel_sql_automation_spark.workload as wl_other

        qs = dict(wl_other.queries())
        mods = _grab_modules()
    finally:
        sys.path.remove(repo_root)
        _set_modules(saved)
    return qs, mods


def _ab_members(set_names: list[str], old_qs, new_qs) -> dict[str, list[str]]:
    """``--ab-sets`` name -> its queries: a frozen set's members, or the
    name itself as a one-query set when either side registers it."""
    unknown = [
        s for s in set_names
        if s not in FROZEN_SETS and s not in old_qs and s not in new_qs
    ]
    if unknown:
        raise ValueError(
            f"--ab-sets: {unknown} are neither frozen sets nor queries "
            "registered on either side"
        )
    return {s: FROZEN_SETS.get(s, [s]) for s in set_names}


def ab_main(ref: str, out_path: str, n_passes: int, set_names: list[str]) -> None:
    import subprocess

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.abspath(__file__))
    sha = subprocess.run(
        ["git", "-C", repo, "rev-parse", ref],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    wt = f"/tmp/bench_ab_{sha[:12]}"
    if not os.path.isdir(wt):
        subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--detach", wt, sha],
            check=True, capture_output=True,
        )
    try:
        old_qs, old_mods = _load_queries_from(wt)
        new_qs = dict(workload.queries())
        new_mods = _grab_modules()
        side_env = {"new": (repo, new_mods), "old": (wt, old_mods)}
        members = _ab_members(set_names, old_qs, new_qs)
        wanted = []
        for s in set_names:
            for n in members[s]:
                if n not in wanted:
                    wanted.append(n)
        # EXTRA_QUERIES close over the current package at call time, so
        # they cannot represent the OLD side faithfully — skipped, and
        # the skip is recorded (no silent caps).
        runnable = [n for n in wanted if n in old_qs and n in new_qs]
        skipped = [n for n in wanted if n not in runnable]

        spark = get_spark(app_name="bench-ab")
        _warm(spark, new_qs, sf_dir)
        best = {"new": dict.fromkeys(runnable, float("inf")),
                "old": dict.fromkeys(runnable, float("inf"))}
        pass_sums: dict[str, list[float]] = {"new": [], "old": []}
        # Pass -1 is UNTIMED, once per side: the first execution of each
        # query pays whole-stage codegen compilation for every plan the
        # session hasn't seen, and that cost lands on whichever side
        # runs first. The r10 inaugural run proved it: without the warm
        # pass, per-pass sums fell 258.7 -> 211.5 s across the session
        # and the side leading 2-of-3 passes read 7-15% "slower" on
        # UNTOUCHED queries. Keep n_passes EVEN so each side leads
        # equally (odd counts re-introduce the bias the warm pass
        # doesn't cover).
        for p in range(-1, n_passes):
            sides = [("new", new_qs), ("old", old_qs)]
            if p % 2:
                sides.reverse()
            for side, qmap in sides:
                # swap in the side's module set + checkout path so
                # CALL-TIME imports inside query functions resolve to
                # the side's own code (see _load_queries_from)
                root, mods = side_env[side]
                _set_modules(mods)
                sys.path.insert(0, root)
                try:
                    tot = 0.0
                    for name in runnable:
                        t0 = time.perf_counter()
                        qmap[name](spark, sf_dir).write.mode("overwrite").format(
                            "noop"
                        ).save()
                        dt = time.perf_counter() - t0
                        tot += dt
                        if p >= 0 and dt < best[side][name]:
                            best[side][name] = dt
                    if p >= 0:
                        pass_sums[side].append(round(tot, 3))
                finally:
                    # keep any modules the side lazily imported so the
                    # next swap-in reuses them instead of re-importing
                    side_env[side] = (root, _grab_modules())
                    sys.path.remove(root)
            _set_modules(side_env["new"][1])
        ab_conf = _session_conf(spark)
        spark.stop()

        sets_out = {}
        for s in set_names:
            names = [n for n in members[s] if n in runnable]
            a = round(sum(best["new"][n] for n in names), 3)
            b = round(sum(best["old"][n] for n in names), 3)
            sets_out[s] = {
                "new_seconds": a,
                "old_seconds": b,
                "ratio_new_over_old": round(a / b, 4) if b else None,
                "n_queries": len(names),
            }
        record = {
            "protocol": (
                "same-session alternating passes, best-of-N per query, "
                "one untimed warm pass per side, alternating lead"
            ),
            "old_ref": ref,
            "old_sha": sha,
            "passes": n_passes,
            "sf_dir": sf_dir,
            "sets": sets_out,
            "pass_sums": pass_sums,
            "skipped_queries": skipped,
            "per_query": {
                n: {
                    "new": round(best["new"][n], 3),
                    "old": round(best["old"][n], 3),
                }
                for n in runnable
            },
            "session": ab_conf,
        }
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print(json.dumps({
            "ab": {s: v["ratio_new_over_old"] for s, v in sets_out.items()},
            "record": out_path,
        }))
    finally:
        subprocess.run(
            ["git", "-C", repo, "worktree", "remove", "--force", wt],
            capture_output=True,
        )


def _cli() -> None:
    args = sys.argv[1:]

    def _take(flag: str, default: str | None = None) -> str | None:
        if flag in args:
            i = args.index(flag)
            if i + 1 >= len(args):
                raise SystemExit(f"{flag} requires a value")
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    ref = _take("--ab")
    out = _take("--ab-out", "ABDRIFT.json")
    n_passes = int(_take("--ab-passes", "4"))
    sets = _take("--ab-sets", "stable27,stable33,stable37,stable155,stable190")
    if ref:
        ab_main(ref, out, n_passes, [s for s in sets.split(",") if s])
    else:
        main()


if __name__ == "__main__":
    _cli()
