#!/usr/bin/env python3
"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Timing includes full query execution (a count-style materialization of
every result partition) but excludes session startup and a warmup query
that pays JVM/codegen first-run costs.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_datalake_platform_spark.observability import codegen_compiles  # noqa: E402
from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY  # noqa: E402
from aws_datalake_platform_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the plans that
# dominate at scale (scan-agg, multiway join, window, dedup/similarity).
HEADLINE = [
    "q01_pricing_summary",
    "q02_group_count",
    "q03_filter_project",
    "q04_validation_fused",
    "q05_join_agg",
    "q06_join_5way",
    "q09_outer_join",
    "q10_window_topk",
    "q11_window_running",
    "q12_sort_limit",
    "q15_rollup",
    "q18_derived_columns",
    "q19_pseudonymize",
    "q20_agg_stats",
    "q21_time_bucket",
    "q23_ngram_jaccard_dedup",
    "q24_minhash_lsh_dedup",
    "q25_simhash_dedup",
    "q30_ann_bruteforce_topk",
    # Heavy tail (VERDICT r2 ask #1): the iterative/LSH/Arrow queries.
    # Justifications for rows over ~2 s at sf0.1 on local[32]:
    # - q59: threshold 0.4 on random 64-dim embeddings is candidate-DENSE
    #   (angular LSH cannot separate cos 0.4 from cos 0.0 with few planes;
    #   64% of all pairs collide in >=1 of 16 bands -> 1.27M exact-cosine
    #   verifies). The plan is the scale-correct bucketed shape; at real
    #   near-dup thresholds (0.9+) band selectivity prunes. The exact q31
    #   baseline exists precisely because at this density brute force wins.
    # - q68: q24's MinHash pairs (~1.5 s) + min-label propagation rounds;
    #   each round is a join+agg JOB on a tiny label set — fixed per-job
    #   overhead dominates locally and amortizes on a real cluster.
    # - q123: 10 unrolled power-iteration joins inside one job plus the
    #   edge-mining window over the full event log.
    # - q25: ~2.4 s after the hot-bucket cap landed (window + stats join
    #   are the cap's fixed cost; the cap exists because an uncapped band
    #   self-join went quadratic on the sf1 boilerplate corpus).
    # - q23: ~3 s — EXACT n-gram Jaccard (shared-shingle equi-join with a
    #   max_df hot-shingle guard); the approximate scale path is q24, this
    #   row is the exact baseline priced honestly.
    "q59_embedding_near_dup_lsh",
    "q64_winnow_fingerprints",
    "q65_stream_stream_join",
    "q70_repetition_stats",
    "q68_dup_clusters",
    "q111_grouped_map_zscore",
    "q114_sequence_packing",
    "q115_ann_pq_topk",
    "q123_pagerank_transitions",
    "q38_grouping_sets",
    "q39_pivot",
    "q41_json_extract",
    "q44_broadcast_join",
    "q45_salted_agg",
    "q87_document_chunks",
    "q92_unigram_logprob",
    "q96_time_range_window",
    "q97_bloom_join_prefilter",
    "q102_keep_latest",
    "q118_audio_window_energy",
    "q125_tpch_q6",
    "q128_tpch_q10",
    "q133_tpch_q5",
    "q186_tpch_q21_adapted",
    "q156_bitmap_distinct",
    "q167_ohlc_downsample",
    "q168_trade_triangles",
    "q169_ks_drift",
    "q172_dup_span_merge",
    "q175_centroid_similarity",
    "q157_decimal_money",
    "q158_concurrency_sweep",
    "q159_time_decay_score",
    "q160_fk_integrity_audit",
    # round-4 additions: the new curation/retrieval ops
    "q192_gopher_quality_rules",
    "q195_source_overlap_matrix",
    "q196_inverted_index",
    "q201_semdedup",
    "q202_mmr_rerank",
    # round-6 additions: IVF (newly oracle-backed) + training-data shaping
    "q47_ann_ivf_topk",
    "q203_kmeans_clusters",
    "q204_semantic_decontamination",
    "q205_bpe_pair_stats",
    "q206_padding_efficiency",
    "q207_pca_top_component",
    "q208_bigram_perplexity",
    "q209_ann_recall_audit",
    "q210_phrase_search",
    "q211_woe_iv",
    "q212_target_encoding",
    "q213_embedding_drift",
    "q214_dup_cluster_histogram",
    "q215_dp_noisy_counts",
    "q216_touch_attribution",
    "q217_session_bounce",
    "q218_quantile_normalization",
    "q219_vocab_oov_coverage",
    "q220_duplicate_ngrams",
    "q221_dedup_threshold_curve",
    "q222_key_skew_profile",
    "q223_embedding_dim_stats",
    "q224_ewma_deviation",
    "q225_lsh_dedup_audit",
    "q226_epoch_mix_plan",
    "q227_split_leakage",
    "q228_class_balanced_sample",
    "q229_customer_feature_frame",
    "q230_bt_preference",
    "q231_quality_gate_agreement",
    "q232_doc_memorization_score",
    "q233_curriculum_buckets",
    "q234_domain_reweight",
    "q235_ndcg_ranking_eval",
    "q236_lsh_parameter_plan",
    "q237_kmv_source_overlap",
    "q238_ivf_nprobe_plan",
    "q239_calibration_brier",
    "q240_roc_auc",
    "q241_transition_entropy",
    "q242_lang_confusion",
    "q243_golden_record",
    "q244_fertility_rollup",
    "q245_source_quality_chi2",
    "q246_kmv_merge_invariance",
    "q247_bootstrap_ci",
    "q248_jackknife_influence",
    "q249_conformal_interval",
    "q250_power_mde",
    "q251_heaps_law_fit",
    "q252_zipf_fit",
    "q253_search_snippets",
    "q254_top_event_paths",
    "q255_sampler_uniformity",
    "q256_media_ahash_near_dup",
    "q257_rrf_hybrid_rank",
    "q258_contrastive_negatives",
    "q259_tfidf_cosine_pairs",
    "q260_token_budget_plan",
    "q261_rfm_segmentation",
    "q262_basket_lift",
    "q263_cohort_ltv",
    "q264_discount_elasticity",
    "q265_profile_drift",
    "q266_time_to_convert",
    "q267_vocab_richness",
    "q268_sequential_ab_looks",
    "q269_hierarchy_contribution",
    "q270_wilson_error_ranking",
    "q271_copurchase_recs",
    "q272_volume_forecast",
    "q273_knn_outlier_scores",
    "q274_dau_wau_mau",
    "q275_abc_classification",
    "q276_fulfillment_intervals",
    "q277_detector_agreement",
    "q278_cluster_share_drift",
    "q279_supplier_hhi",
    "q280_corpus_funnel",
    "q281_sample_mix_audit",
    "q282_auc_bootstrap_ci",
    "q283_volume_anomalies",
    "q284_growth_accounting",
    "q285_expected_calibration_error",
    "q286_context_length_plan",
    "q287_pmi_associations",
    "q288_dup_rate_trend",
    "q289_novelty_curve",
    "q290_horvitz_thompson",
    "q291_gain_chart",
    "q292_bloom_sizing_plan",
    "q293_mixture_diversity",
    "q294_temperature_sweep",
    "q295_mrr_success_at_k",
    "q296_dup_quality_correlation",
    "q297_tukey_fences",
    "q298_freshness_audit",
    "q299_scorer_rank_agreement",
    "q300_corpus_scorecard",
    "q301_fightin_words",
    "q302_lorenz_curve",
    # round-7 additions
    "q303_basket_cap_plan",
    "q304_kaplan_meier",
    "q305_cusum_changepoint",
    "q306_mann_whitney",
    "q307_discount_dispersion",
    "q308_matryoshka_audit",
    "q309_burstiness_fano",
    "q310_wilcoxon_value_shift",
    "q311_hill_tail_index",
    "q312_srm_check",
    "q313_benford_audit",
    "q314_volume_autocorrelation",
    "q315_minhash_budget_plan",
    "q316_aa_test_readout",
    "q317_seasonality_strength",
    "q318_rec_coverage",
    "q319_stop_shingle_plan",
    "q320_winsorize_impact",
    "q321_partition_balance_plan",
    "q322_filter_order_plan",
    # round-7 second-half additions
    "q323_chao1_vocab_estimate",
    "q324_entropy_l_diversity",
    "q325_average_precision",
    "q326_rake_keywords",
    "q327_kneser_ney_bigram",
    "q328_sorted_neighborhood",
    "q329_jl_projection_audit",
    "q330_join_size_estimate",
    "q331_shapley_attribution",
    "q332_bm25_tuning_plan",
    "q333_welch_t_test",
    "q334_mutual_nn_pairs",
    "q335_mcnemar_detectors",
    "q336_ipw_effect",
    "q337_zorder_skip_estimate",
    # round-7 session-3: experimentation/causal + exact-replay classics
    "q338_cuped_readout",
    "q339_theil_sen_trend",
    "q340_good_turing_smoothing",
    "q341_llr_collocations",
    "q342_shrunk_cell_means",
    "q343_simpson_paradox",
    "q344_kendall_tau",
    "q345_fd_discovery_audit",
    "q346_cochran_armitage_trend",
    "q347_quantile_treatment_effect",
    "q348_seasonal_decompose",
    # q349 inherits q68's LSH+CC (the audit-family composite; from-index
    # twin reads stored relations) — priced honestly in the heavy tail
    "q349_cluster_agreement",
    "q350_markov_attribution",
    "q351_holt_linear",
    "q352_isotonic_calibration",
    "q353_logrank_test",
    "q354_dup_capture_recapture",
    "q355_price_index",
    "q356_kruskal_wallis",
    "q357_negbin_overdispersion",
    "q358_burst_viterbi",
    "q359_sequential_patterns",
    "q360_poststrat_design_effect",
    "q361_effect_sizes",
    "q362_bh_fdr",
    "q363_permutation_test",
    "q364_naive_bayes_langid",
    "q365_decision_stump",
    "q366_energy_distance",
    "q367_cochran_q",
    "q368_hits_hubs_authorities",
    # round-7 session-3 wave 2: diagnostics + survey weighting + learners
    "q369_binseg_changepoints",
    "q370_raking_ipf",
    "q371_mediation_analysis",
    "q372_cronbach_alpha",
    "q373_nested_model_ftest",
    "q374_chi2_cell_residuals",
    "q375_breusch_pagan",
    "q376_durbin_watson",
    "q377_ljung_box",
    "q378_anderson_darling",
    "q379_cox_hazard_newton",
    "q380_holt_winters",
    "q381_textrank_keywords",
    "q382_kcore_peel",
    "q383_t_closeness",
    "q384_regression_discontinuity",
    "q385_periodogram_scan",
    "q386_brown_forsythe",
    "q387_fellegi_sunter_weights",
    "q388_friedman_test",
    "q389_runs_test",
    "q390_lexical_diversity",
    "q391_boilerplate_detection",
    "q392_weibull_gap_fit",
    "q393_degree_assortativity",
    "q394_label_propagation",
    "q395_croston_intermittent",
    "q396_sort_key_plan",
    "q397_forecast_backtest",
    "q398_pagerank_exact",
    "q399_cmh_test",
    "q400_mann_kendall",
    "q401_gmm_em",
    "q402_poisson_trend_glm",
    "q403_compaction_plan",
    "q404_fs_linkage_scoring",
    "q405_source_crossentropy",
    "q406_text_cohesion",
    "q407_readability",
    "q408_next_event_accuracy",
    "q409_newsvendor_plan",
    "q410_partition_granularity_plan",
    "q411_similarity_margin",
    "q412_dedup_transitivity",
    "q413_deseasonalization_audit",
    "q414_dsir_importance_weights",
    "q415_logistic_quality_irls",
    "q416_hbos_outliers",
    "q417_split_leakage_audit",
    "q418_chimerge_binning_plan",
    "q419_domain_mixture_plan",
    "q420_bpe_merge_train",
    "q421_bpe_compression_curve",
    "q422_embedding_effective_rank",
    "q423_pair_edit_distance_audit",
    "q424_mixture_realization_audit",
    "q425_dedup_token_budget",
    "q426_facility_location_coreset",
    "q427_wasserstein_source_drift",
    "q428_weighted_sample_without_replacement",
    "q429_scaling_law_fit",
    "q430_brier_decomposition",
]


def prime_udf_workers(spark) -> None:
    """Prime the Python UDF worker fleet: spawn + pandas/pyarrow import is
    ~5-10 s across 32 workers and would otherwise bill to the first
    pandas-UDF query; workers are reused afterwards."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 10_000, 1, 32).select(_noop(F.col("id"))).count()


def drain(spark, max_wait: float = 30.0) -> None:
    """Wait for the session to go idle. A query's count() can return while
    AQE broadcast-subtree jobs it no longer needs are still running; those
    orphans burn cores into the NEXT query's timing window."""
    tracker = spark.sparkContext.statusTracker()
    t0 = time.perf_counter()
    while tracker.getActiveJobsIds() and time.perf_counter() - t0 < max_wait:
        time.sleep(0.05)


def materialize(df) -> int:
    """Force full execution of every partition without collecting rows to
    the driver (write-free equivalent of a sink)."""
    return df.count()


def timed_pass(spark, build, materialize=materialize) -> tuple[float, int]:
    """One timed pass, shared by every timing loop here and by
    scripts/qtime.py: clearCache, drain(), then the wall seconds to run
    ``build()`` and materialize the frame it returns, and the number of
    generated classes Janino compiled meanwhile (a warm pass compiles
    none; one that does is still paying codegen)."""
    spark.catalog.clearCache()
    drain(spark)
    c0 = codegen_compiles(spark)
    t0 = time.perf_counter()
    materialize(build())
    return time.perf_counter() - t0, codegen_compiles(spark) - c0


# warm at the TARGET sf: AQE picks different physical plans (broadcast vs
# SMJ, coalesced partition counts) at different data sizes, so a tiny-sf
# warmup leaves the target-size plan's generated classes cold (q10 measured
# 4.9 s first run vs 0.7 s warm even after an sf0.001 warmup pass).
WARMUP_SF_DIR = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", SF_DIR)


def main() -> None:
    # Dev-only iteration knob (guide §1: measure with the bench's own
    # discipline — warmup everything, interleaved passes, per-query min —
    # instead of ad-hoc harnesses): SPARK_GRAFT_BENCH_ONLY="q1,q2" trims
    # the headline set for a quick subset run. NEVER set by the driver;
    # default behavior is byte-identical. Subset runs also never touch
    # bench_full.json (redirected to bench_full_dev.json below).
    global HEADLINE
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        HEADLINE = [n for n in HEADLINE if n in keep]
    # Timing-only session: no console progress bars and no WARN chatter
    # (maxPlanStringLength truncation notices etc.) so the driver's
    # 2000-char output tail stays dominated by the one JSON result line.
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    prime_udf_workers(spark)

    # JMH-style warmup: run EVERY headline query once at the tiny SF so
    # Janino codegen + JIT compilation of each query's generated classes is
    # paid before timing. First-run compilation measured 3-20 s per query
    # late in a session (C2 threads starve while 32 cores run tasks); the
    # steady-state cost below is what a resident engine actually delivers.
    warm_dir = WARMUP_SF_DIR if os.path.isdir(WARMUP_SF_DIR) else SF_DIR
    for name in HEADLINE:
        spec = QUERY_REGISTRY.get(name)
        if spec is not None:
            materialize(spec.fn(spark, warm_dir))

    # Three full timed passes, per-query min across passes. Adjacent repeats
    # of one query both land inside the same external-contention window
    # (this host shows roving ~30-60 s CPU-contention bands); full passes
    # are minutes apart, so one of them usually lands clean. clearCache
    # before every timed query: operators that persist intermediates
    # (MinHash/embedding LSH) must pay their full compute each pass —
    # without it the second pass would time a memoized rerun, not the
    # query. Per-pass timings are emitted alongside the min so the
    # warm-steady-state framing is visible in the artifact itself.
    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    compiles: dict[str, list[int]] = {}

    def time_query(name: str) -> None:
        spec = QUERY_REGISTRY.get(name)
        if spec is None:
            return
        elapsed, n_compiled = timed_pass(spark, lambda: spec.fn(spark, SF_DIR))
        passes.setdefault(name, []).append(round(elapsed, 3))
        compiles.setdefault(name, []).append(n_compiled)
        timings[name] = round(min(elapsed, timings.get(name, elapsed)), 3)

    for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))):
        for name in HEADLINE:
            time_query(name)
    # Adaptive tail: sub-second rows are where scheduler/drain jitter is
    # comparable to the runtime itself, and with every query weighted
    # equally they dominate round-over-round GEOMEAN noise (r8/r9
    # back-to-back runs spanned ~4-8% on identical code). Two extra
    # interleaved passes over just those rows cost ~2-3 min and tighten
    # the min estimator exactly where it is weakest.
    for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_PASSES", "2"))):
        for name in HEADLINE:
            if timings.get(name, 99.0) < 1.0:
                time_query(name)

    # Materialized-index mode (VERDICT r7 item 6): the audit family's
    # production shape — detectors run ONCE into the versioned snapshot
    # store, then each audit re-aggregates the stored relations. Timed
    # SEPARATELY from the headline total (the fresh audits above stay in
    # it) so round-over-round headline totals remain comparable, while
    # the artifact carries the *_from_index rows next to the fresh ones.
    from_index: dict[str, float] = {}
    index_materialize_sec = None
    if os.environ.get("SPARK_GRAFT_BENCH_FROM_INDEX", "1") != "0":
        import shutil
        import tempfile

        from aws_datalake_platform_spark.pipelines.audit_index import (
            FROM_INDEX_AUDITS,
            materialize_dedup_index,
        )

        index_dir = tempfile.mkdtemp(prefix="bench_dedup_index_")
        try:
            spark.catalog.clearCache()
            drain(spark)
            t0 = time.perf_counter()
            materialize_dedup_index(spark, SF_DIR, index_dir)
            index_materialize_sec = round(time.perf_counter() - t0, 3)
            for name, fn in FROM_INDEX_AUDITS.items():
                materialize(fn(spark, SF_DIR, index_dir))  # codegen warmup
            # same multi-pass min discipline as the headline loop
            # (ADVICE r8: a single timed pass left these rows noisier
            # than the fresh twins they're compared against)
            for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))):
                for name, fn in FROM_INDEX_AUDITS.items():
                    key = f"{name}_from_index"
                    elapsed = round(timed_pass(spark, lambda: fn(spark, SF_DIR, index_dir))[0], 3)
                    from_index[key] = min(elapsed, from_index.get(key, elapsed))
        finally:
            shutil.rmtree(index_dir, ignore_errors=True)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Round-over-round comparison: geometric mean of per-query ratios vs the
    # previously committed bench_full.json (shared queries only). Loaded
    # BEFORE we overwrite the file below.
    # bench_full.json is the COMMITTED canonical artifact (sf0.1, the
    # driver's scale). A dev run at any other SF must not clobber it
    # (an sf0.001 smoke once overwrote the committed sf0.1 file and
    # silently broke the round-over-round geomean) — those write to
    # bench_full_dev.json instead.
    here = os.path.dirname(os.path.abspath(__file__))
    canonical_path = os.path.join(here, "bench_full.json")
    geomean_vs_prev = None
    geomean_vs_first_run = None
    merged_note = None
    prev_canonical_queries = None
    try:
        with open(canonical_path) as fh:
            prev_full = json.load(fh)
        # only compare same-scale runs — a dev run at sf0.001 must not
        # pollute the round-over-round ratio
        prev = prev_full.get("queries", {}) if prev_full.get("sf") == sf_val else {}

        def _geomean(cur: dict, base: dict):
            logs = [
                math.log(cur[q] / base[q])
                for q in cur
                if q in base and base[q] > 0 and cur[q] > 0
            ]
            return round(math.exp(sum(logs) / len(logs)), 4) if logs else None

        # Min-of-2 canonical protocol (VERDICT r8 item 4): same-code
        # back-to-back invocations on this host span a ±5% ambient
        # band that per-run pass-minima cannot cancel (four r9 runs:
        # 322-357 s). With MERGE_PREV=1 the SECOND invocation folds
        # per-query minima into the previous run's artifact, so the
        # committed canonical is min over 2 invocations x all passes —
        # a stable lower envelope. A single fresh run (e.g. the
        # driver's) is EXPECTED to read a few percent above it; that
        # is estimator bias, not regression.
        if (
            os.environ.get("SPARK_GRAFT_BENCH_MERGE_PREV") == "1"
            and prev
            and set(prev) == set(timings)
        ):
            # run2-vs-run1 measures ambient noise between the two
            # back-to-back invocations, NOT round-over-round change —
            # label it as such (ADVICE r9: the two were conflated)
            geomean_vs_first_run = _geomean(timings, prev)
            fresh_total = round(sum(timings.values()), 3)
            prev_passes = prev_full.get("passes", {})
            prev_compiles = prev_full.get("compiles", {})
            for q in timings:
                timings[q] = min(timings[q], prev[q])
                passes[q] = prev_passes.get(q, []) + passes[q]
                compiles[q] = prev_compiles.get(q, []) + compiles[q]
            for q, sec in prev_full.get("from_index", {}).get(
                "audits", {}
            ).items():
                if q in from_index:
                    from_index[q] = min(from_index[q], sec)
            if index_materialize_sec is not None:
                index_materialize_sec = min(
                    index_materialize_sec,
                    prev_full.get("from_index", {}).get("materialize_sec")
                    or index_materialize_sec,
                )
            # round-over-round: merged canonical vs the PRIOR ROUND's
            # committed canonical, snapshotted by the first invocation
            # below (ADVICE r9 — previously computed run2-vs-run1)
            base = prev_full.get("prev_canonical_queries") or {}
            geomean_vs_prev = _geomean(timings, base)
            merged_note = (
                "per-query min over 2 back-to-back invocations "
                "(passes concatenated; single-run totals "
                f"{prev_full.get('value')} and {fresh_total}; a single "
                "fresh run reads a few percent above this lower "
                "envelope by construction). geomean_vs_prev compares "
                "this merged canonical against the prior ROUND's "
                "committed canonical; geomean_vs_first_run is run2 vs "
                "run1 of THIS round (ambient noise, not change)."
            )
        else:
            # single/first invocation: compare fresh timings against the
            # previously committed canonical (= the prior round's), and
            # snapshot that canonical so a MERGE_PREV second invocation
            # can compute a true round-over-round ratio after merging
            geomean_vs_prev = _geomean(timings, prev)
            prev_canonical_queries = prev or None
    except (OSError, ValueError, KeyError):
        pass

    full = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "compiles": compiles,
        "timing": "per-query min across warm passes (cache cleared "
        "before each timed query; warmup pass excluded; sub-second "
        "rows get extra interleaved passes — see 'passes'; 'compiles' "
        "holds each pass's Janino compile count, 0 on a warm pass)",
        "sf": sf_val,
        "geomean_vs_prev": geomean_vs_prev,
        "geomean_vs_first_run": geomean_vs_first_run,
        "prev_canonical_queries": prev_canonical_queries,
        "protocol": merged_note,
        "from_index": {
            "materialize_sec": index_materialize_sec,
            "audits": from_index,
            "note": "detectors computed ONCE into the snapshot store; "
            "each audit re-aggregates stored relations (compare with "
            "the same-named fresh rows in 'queries'; same per-query "
            "min-across-passes timing as the headline loop). Excluded "
            "from 'value' so headline totals stay comparable across "
            "rounds.",
        },
    }
    out_path = (
        canonical_path
        if sf_val == 0.1 and not only
        else os.path.join(here, "bench_full_dev.json")
    )
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.write("\n")

    # The driver keeps only the last ~2000 chars of stdout; the full
    # 150+-query dict overflows that, so the ONE stdout line is a compact
    # summary (top-10 slowest as the "queries" sample) and the complete
    # per-query/per-pass detail lives in bench_full.json (committed).
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": full["value"],
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "geomean_vs_prev": geomean_vs_prev,
                "from_index_total": (
                    None
                    if index_materialize_sec is None
                    else round(
                        index_materialize_sec + sum(from_index.values()), 3
                    )
                ),
                "queries": slowest,
                "queries_truncated": True,
                "full": os.path.basename(out_path),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
