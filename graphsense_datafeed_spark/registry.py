"""Central operator/query registry — the driver-contract surface.

Every operator the engine implements registers here with:

- a query id (the SURVEY.md §2 row id — e.g. ``join_asof``),
- a callable ``(spark, sf_dir) -> DataFrame``, and
- (when SQL-expressible) the equivalent ANSI SQL for the DuckDB oracle.

``__spark_entry__.py`` simply re-exports this registry; the driver's t2
gate runs both sides at sf0.01 and hash-compares (SURVEY.md §0.1).
Column names must match exactly between the two sides — alias every
computed column on both.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
import warnings
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(qid: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the implementation of SURVEY §2 row ``qid``.

    ``oracle`` is the DuckDB SQL string for the t2 hash-match; omit it
    only for genuinely non-SQL-expressible operators (the driver then
    records a weaker rows-only check — SURVEY.md §2's ✖ rows).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if qid in QUERIES:
            raise ValueError(f"duplicate query id: {qid}")
        QUERIES[qid] = fn
        if oracle is not None:
            ORACLES[qid] = " ".join(oracle.split())
        return fn

    return deco


# Modules whose import registers operators. Order matters: the driver
# verifies queries in registration order and round 1 showed it caps the
# sweep (it checked exactly the first 50 registry entries), so modules
# whose queries still lack a driver-verified CORRECTNESS row go first.
_OPERATOR_MODULES = (
    # --- driver-unchecked after round 1: front of the window ---
    "graphsense_datafeed_spark.operators.aggregates",
    "graphsense_datafeed_spark.operators.windows",
    "graphsense_datafeed_spark.operators.sort_limit",
    "graphsense_datafeed_spark.operators.setops",
    "graphsense_datafeed_spark.functions.strings",
    "graphsense_datafeed_spark.functions.dates",
    "graphsense_datafeed_spark.functions.math_cond",
    "graphsense_datafeed_spark.functions.collections",
    "graphsense_datafeed_spark.functions.udfs",
    "graphsense_datafeed_spark.operators.llm_text",
    "graphsense_datafeed_spark.operators.llm_dedup",
    "graphsense_datafeed_spark.operators.llm_similarity",
    "graphsense_datafeed_spark.operators.multimodal",
    "graphsense_datafeed_spark.ingest.facade",
    "graphsense_datafeed_spark.operators.subqueries",
    "graphsense_datafeed_spark.streaming.windows",
    "graphsense_datafeed_spark.streaming.stateful",
    # --- driver-verified green in CORRECTNESS_r01: back ---
    "graphsense_datafeed_spark.plans.flagship",
    "graphsense_datafeed_spark.plans.goldens2",
    "graphsense_datafeed_spark.plans.goldens3",
    # round-2 additions: new queries go BEHIND the driver-unchecked
    # block so they never displace a §2 row from the first-50 window
    "graphsense_datafeed_spark.plans.goldens4",
    "graphsense_datafeed_spark.ingest.graphstats",
    "graphsense_datafeed_spark.operators.datamgmt",
    "graphsense_datafeed_spark.operators.timeseries",
    "graphsense_datafeed_spark.operators.ir_index",
    "graphsense_datafeed_spark.sources.scans",
    "graphsense_datafeed_spark.operators.rowops",
    "graphsense_datafeed_spark.operators.joins",
)

# Remaining overflow queue after the round-9 window (any round-9
# additions append in landing order).  The rotation recipe is
# EXECUTABLE CODE, not prose: compute_window_order() below orders the
# live registry RED -> ORACLE-RETIRED -> NEVER-CHECKED (this queue's
# order) -> oldest-green re-check, straight from the
# CORRECTNESS_r*.json ledgers, and load_all_operators() applies it.
# The queue tuples below are only the never-checked landing order.
# scripts/next_window.py previews the same ordering.
_ROUND10_NEXT_UP = (
    "rank_biased_overlap",
    "agg_quantiles_grouped",
    "agg_mcnemar_test",
    "ingest_tx_fanout_census",
    "text_code_detect",
    "ingest_change_address_heuristic",
    "ingest_peel_shape_census",
    "text_source_cross_entropy",
    "agg_cochran_q",
    "agg_effect_size_cohens_d",
    "win_value_percentile_grouped",
    "train_decision_stump",
    "agg_anova_oneway",
    "corpus_source_ranking",
    "graph_katz_bounded",
    "join_spatial_knn",
    "ts_bollinger_bands",
    "text_boilerplate_share",
    "ingest_address_reuse_rate",
    "multimodal_video_scene_cut",
    "agg_trend_cochran_armitage",
    "events_churn_weekly",
    "ingest_coin_days_destroyed",
    "agg_partial_correlation",
    "win_record_highs",
    "ingest_miner_concentration",
    "embed_text_alignment_audit",
    "ts_range_volatility",
    # --- round-9 continuation additions, landing order ---
    "agg_kruskal_wallis",
    "agg_levene_brown_forsythe",
    "agg_kendall_tau",
    "agg_mann_kendall_trend",
    "events_power_sample_size",
    "text_rater_agreement_fleiss",
    "ts_page_hinkley",
    "ts_variance_ratio",
    "agg_hodges_lehmann",
    "agg_permutation_test",
    "scan_schema_evolution_merge",
    "embed_outlier_mahalanobis",
    "split_grouped_holdout",
    "text_context_window_fit",
    "agg_shrunk_rates_eb",
    "agg_hill_tail_index",
    "text_score_quantile_normalize",
    "graph_hits_bounded",
    "ts_best_window_sum",
    "udf_arrow_scalar",
    "seq_global_two_pass",
    "anon_dp_laplace_counts",
    "join_fuzzy_levenshtein",
    "sink_csv_roundtrip",
    "agg_ipf_raking",
    "events_switchback_analysis",
    "text_tokenizer_fertility",
    "agg_robust_summary",
    "events_markov_stationary",
    "ts_periodogram_peaks",
    "stream_topk_per_window",
    "scan_partition_evolution_union",
    "events_sequential_probe_obf",
    "agg_conformal_interval",
    "text_watermark_greenlist",
    "events_did_estimator",
    "agg_benjamini_hochberg",
    "ts_spectral_entropy",
    "ts_hurst_rs",
    "profile_functional_dependency",
    "agg_grubbs_outlier",
    "agg_cronbach_alpha",
    "agg_deming_regression",
    "graph_rich_club_coefficient",
    "text_bm25_topk",
    "agg_icc_design_effect",
    "corpus_contamination_matrix",
    "agg_price_index_fisher",
    "events_uplift_qini",
    "agg_gumbel_block_maxima",
    "embed_gram_spectral_norm",
    "ts_pot_gpd_moments",
    "agg_tail_dependence",
    "profile_ndv_sample_gee",
    "ts_changepoint_binseg2",
    "agg_kmeans_1d_bounded",
    "text_char_ngram_entropy",
    "agg_youden_j_threshold",
    "embed_alignment_uniformity",
    "events_hazard_nelson_aalen",
    "graph_reciprocity",
    "graph_edge_overlap_bridges",
    "agg_gamma_fit_moments",
    "text_model_average_precision",
    "embed_pair_distance_hist",
    "ts_robust_decompose",
    "agg_mutual_information",
    "agg_negative_binomial_fit",
    "graph_harmonic_bounded",
    "interval_union_coverage",
    "text_model_brier",
    "events_survival_cindex",
    "ts_sample_entropy",
    "anon_randomized_response_freq",
    "agg_lin_ccc",
    "ts_pinball_loss",
    "events_markov_absorption",
    "agg_jarque_bera",
    "agg_benford_second_digit",
    "join_mutual_best_match",
    "agg_tukey_hsd",
    "profile_numeric_correlation_matrix",
    "events_exposure_fatigue",
    "embed_knn_margin_audit",
    "events_retention_halflife",
    "events_stratified_effect",
    "agg_woe_information_value",
    "agg_hill_numbers_diversity",
    "agg_friedman_page_trend",
    "agg_bartlett_test",
    "events_markov_order_test",
    "dedup_shingle_sensitivity",
    "embed_knn_loo_accuracy",
    "text_vocab_coverage_curve",
    "graph_degree_centralization",
    "text_model_mcc",
    "ts_haar_energy",
    "ts_regime_run_lengths",
    "events_circadian_entropy",
    "events_mix_drift_weekly",
    "graph_hub_removal_resilience",
    "ts_adstock_halfdecay",
    "embed_lsh_bucket_stats",
    "events_activation_time_to_n",
    "ts_kupiec_coverage_test",
    "agg_weighted_kappa",
    "agg_cmh_test",
    "text_source_divergence_matrix",
    "ts_pacf_bounded",
    "ts_arch_effect_lm1",
)

_loaded = False

# Round-10 additions, landing order (behind the r10 overflow so they
# never displace an older row from its window slot).
_ROUND10_ADDITIONS = (
    "agg_g_test",
    "agg_chao1_richness",
    "agg_trimmed_mean",
    "agg_tukey_fences",
    "agg_goodman_kruskal_gamma",
    "agg_wilcoxon_signed_rank",
    "agg_gwet_ac1",
    "ts_turning_points",
    "ts_cusum_squares",
    "ts_seasonal_mann_kendall",
    "ts_records_test",
    "embed_mrr",
    "embed_hubness",
    "embed_intrinsic_dim_twonn",
    "text_good_turing_mass",
    "anon_generalize_ladder",
    "agg_smr_indirect",
    "agg_cliffs_delta",
    "graph_conductance_segments",
    "ts_mase",
    "ingest_dust_output_census",
    "ingest_utxo_growth",
    "ingest_balance_concentration",
    "stream_hierarchical_rollup",
    "agg_hhi_by_group",
    "multimodal_image_luma_stats",
    "multimodal_payload_entropy",
    "text_lm_holdout_perplexity",
    "graph_avg_neighbor_degree",
    "ingest_fifo_value_attribution",
    "join_proportional_allocation",
    "win_abc_classification",
    "udaf_pandas_window",
    "agg_ks_one_sample_uniform",
    "scan_csv_multiline",
    "anon_pseudonymize_consistent",
    "dq_expectation_checks",
    "sample_temperature_mixture",
    "multimodal_audio_silence_census",
    "events_survival_logrank",
    "ts_missing_data_census",
    "agg_weighted_quantiles",
    "subquery_not_in_null_trap",
    "win_variance_bridge",
    "agg_psi_drift",
    "graph_clustering_vs_null",
    "events_rate_volume_decomposition",
    "cdc_column_level_diff",
    "ts_extremal_index_runs",
    "ts_spc_p_chart",
    "ingest_entity_size_distribution",
    "ts_outlier_consensus",
    "ingest_structuring_detector",
    "events_covariate_balance_smd",
    "events_cumulative_reach",
    "text_doclen_lognormal_fit",
    "ts_seasonal_profile_similarity",
    "ingest_fee_percentiles",
    "ingest_round_amount_census",
    "embed_panel_coverage",
)

# The 16 rows the r9 judge verified in a bare-session sweep that have
# still never been inside a DRIVER window (VERDICT r10 item 8): they
# have gone two rounds on judge evidence only, so they lead the
# never-checked queue.
_R9_JUDGE_PASS_RECHECK = (
    "scan_partition_evolution_union",
    "sink_csv_roundtrip",
    "profile_numeric_correlation_matrix",
    "ingest_multi_currency",
    "seq_global_two_pass",
    "interval_union_coverage",
    "join_mutual_best_match",
    "join_fuzzy_levenshtein",
    "agg_mutual_information",
    "agg_tukey_hsd",
    "agg_conformal_interval",
    "stream_topk_per_window",
    "anon_dp_laplace_counts",
    "text_watermark_greenlist",
    "corpus_token_budget_apportion",
    "udf_arrow_scalar",
)

_ROUND11_ADDITIONS = (
    "ts_dickey_fuller",
    "ts_kpss_level",
    "ts_granger_1lag",
    "agg_mood_median_test",
    "agg_wasserstein_binned",
    "agg_hellinger_drift",
    "agg_sign_test",
    "agg_dixon_q",
    "events_iv_wald",
    "events_rdd_sharp",
    "graph_smetric",
    "graph_transitivity_global",
    "embed_spherical_kmeans_step",
    "text_term_burstiness",
    "text_log_odds_sources",
    "anon_microaggregate",
    "events_parallel_trends_placebo",
    "profile_column_entropy",
    "agg_kendall_distance_topk",
    "embed_cka_split",
    "text_ccnet_perplexity_buckets",
    "ts_locf_max_gap",
    "agg_newcombe_diff_ci",
    "graph_local_bridges",
    "sample_domain_cap",
    "set_symmetric_difference",
    "date_business_days",
    "ts_weekend_effect_ols",
    "ts_ses_grid_alpha",
    "ingest_hodl_waves",
    "ts_forecast_combination",
    "join_cardinality_qerror",
    "agg_tost_equivalence",
    "win_reset_cumsum",
    "seq_collapse_consecutive",
    "sample_systematic_interval",
    "udtf_map_arrow",
    "batch_session_window",
    "multimodal_audio_clipping_census",
    "sample_epoch_cap_schedule",
    "ts_cointegration_eg",
    "events_survival_rmst",
    "text_weighted_jaccard_sources",
    "events_quantile_treatment_effect",
    "str_luhn_validate",
    "agg_poisson_rate_ratio",
    "anon_rank_swap",
    "ingest_fee_size_elasticity",
    "text_bigram_entropy_rate",
    "graph_pagerank_personalized",
    "agg_em_gaussian_1d",
    "events_did_event_study",
    "agg_process_capability",
    "text_template_slot_profile",
    "ingest_monetary_velocity",
    "ts_stationarity_verdict",
)

_ROUND12_ADDITIONS = (
    "sim_lsh_bucket_index",
    "sim_ivf_cell_index",
    "ts_ulcer_index",
    "ts_garman_klass_vol",
    "ts_parkinson_vol",
    "ts_runs_up_down",
    "agg_rank_biserial_cles",
    "agg_jonckheere_terpstra",
    "agg_ansari_bradley",
    "agg_cvm_two_sample",
    "graph_degree_mixing_matrix",
    "graph_triangle_participation",
    "sim_ann_hamming",
    "embed_prefix_energy",
    "events_cox_score_1cov",
    "text_ttr_by_length_band",
    "ingest_realized_cap",
    "ts_amihud_illiquidity",
    "events_preference_shift_bowker",
    "agg_huber_m_3step",
    "ts_ccf_lead_lag",
    "interval_merge_islands",
    "embed_direction_concentration",
    "agg_quade_test",
    "agg_dunn_posthoc",
    "agg_kmv_sketch_ndv",
    "events_ab_srm_check",
    "events_cuped_adjustment",
    "graph_label_homophily",
    "stream_srm_monitor",
    "sim_lsh_recall_curve",
    "ts_rsi_sma",
    "ts_sortino_ratio",
    "ts_vwap_anchored",
    "events_sprt_monitor",
    "ts_theil_u2_snaive",
    "agg_cohens_h",
    "agg_theil_u",
    "text_rater_agreement_krippendorff",
    "graph_triad_census_directed",
    "sink_merge_upsert",
    "text_model_brier_decomposition",
    "sample_ess_diagnostic",
    "geo_moran_i",
    "ts_mean_reversion_halflife",
    "agg_rayleigh_uniformity",
    "text_model_youden_cutpoint",
    "text_burrows_delta",
    "ts_distance_correlation",
    "agg_tarone_overdispersion",
    "events_survival_weibull_fit",
    "embed_covariance_anisotropy",
    "sample_pps_systematic",
    "ts_sma_crossover_census",
    "scan_nested_schema_pruning",
    "anon_synthetic_marginals",
    "ts_underwater_spells",
    "events_mantel_haenszel_or",
    "events_cmh_test",
    "agg_breslow_day_homogeneity",
    "profile_monotonicity_audit",
    "ts_pettitt_test",
    "text_model_auc_delong_se",
    "agg_fisher_z_corr_diff",
    "agg_meta_fixed_effect_i2",
    "events_attribution_shapley",
    "text_model_ks_separation",
    "text_model_gains_table",
    "ingest_taint_haircut",
)

# Landing-order queue for rows that have never been inside a driver
# window.  compute_window_order() consults this for the NEVER category's
# relative order; operators added in round 10+ append here in landing
# order so each lands near the head of a future window.
_NEVER_CHECKED_QUEUE = (
    _R9_JUDGE_PASS_RECHECK
    + _ROUND10_NEXT_UP
    + _ROUND10_ADDITIONS
    + _ROUND11_ADDITIONS
    + _ROUND12_ADDITIONS
)

# Driver-window geometry (VERDICT r10 item 5): the driver's per-round
# sweep caps at ~50 queries; reserve the tail of that first window for
# oldest-green anti-rot re-checks instead of waiting for the
# never-checked queue to fully drain (118 rows were last verified in
# r1-r2; rot risk grows with age).
_WINDOW_SIZE = 50
# Raised 10 -> 15 in round 12 (VERDICT r11 item 5): the truly-never-
# verified population hit zero this round (all 67 remaining rows
# builder-swept green), so the marginal window slot does more good
# re-checking 100+ rows last driver-verified on an r1-r3 tree 5x
# smaller than today's.
_RECHECK_RESERVE = 15


def _ledger_last_seen(repo_root: str) -> dict[str, tuple[int, bool, bool]]:
    """Scan every CORRECTNESS_r*.json ledger and return, per query id,
    ``(round, green, rows_only)`` for the HIGHEST round mentioning it.

    ``green`` for a rows-only entry (``err == "no_oracle"``) means the
    driver's weaker >0-rows check passed; ``rows_only`` records that the
    check was the weak one, so a row whose exact oracle landed AFTER its
    last driver contact can be front-loaded for a real hash-match.
    """
    last: dict[str, tuple[int, bool, bool]] = {}
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            ledger = json.load(fh)
        if not isinstance(ledger, dict):
            continue
        for qid, res in ledger.items():
            if not isinstance(res, dict):
                continue
            rows_only = res.get("err") == "no_oracle"
            if rows_only:
                green = bool(res.get("spark_rows"))
            else:
                # hash_match=None with no error means the hash compare
                # was recorded as skipped — NOT green for oracle-backed
                # rows (ADVICE r10): such a row must front-load for a
                # real hash check.  Only an explicitly hash-less check
                # mode (no hash_match key at all) stays lenient.
                hash_ok = res["hash_match"] is True if "hash_match" in res else True
                green = bool(
                    res.get("rows_match")
                    and res.get("schema_match")
                    and hash_ok
                    and not res.get("err")
                )
            if qid not in last or rnd > last[qid][0]:
                last[qid] = (rnd, green, rows_only)
    return last


def compute_window_order() -> list[str]:
    """Mechanical driver-window ordering (VERDICT r9 item 4, executable).

    Priority within the ordering the driver's capped first-50 sweep sees:

    1. RED — most recent driver appearance failed; always front-load.
    2. ORACLE-RETIRED — last driver contact was the weak rows-only check
       but an exact DuckDB oracle is registered now; the hash-match has
       never actually run in a driver window.
    3. NEVER-CHECKED — absent from every ledger, in landing-queue order
       (``_NEVER_CHECKED_QUEUE``, first occurrence wins — the r9
       judge-pass rows lead it), unknown stragglers behind in
       registration order.
    4. RE-CHECK — driver-green rows, oldest last-green round first, so
       once the never-checked queue drains no green row goes more than
       ~(registry_size / 50) rounds without re-verification (anti-rot).

    Anti-rot reserve (VERDICT r10 item 5): the last ``_RECHECK_RESERVE``
    slots of the first ``_WINDOW_SIZE``-query window are spliced with
    the oldest-green re-checks even while the never-checked queue is
    non-empty, so rot checking starts immediately rather than after the
    queue drains.

    Must be called after operator modules are imported (QUERIES full).
    Raises on unreadable ledgers; the caller then keeps registration
    order.
    """
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last = _ledger_last_seen(repo_root)
    registered = list(QUERIES)
    queue_pos: dict[str, int] = {}
    for i, q in enumerate(_NEVER_CHECKED_QUEUE):
        queue_pos.setdefault(q, i)

    red = [q for q in registered if q in last and not last[q][1]]
    retired = [
        q
        for q in registered
        if q in last and last[q][1] and last[q][2] and q in ORACLES
    ]
    never = sorted(
        (q for q in registered if q not in last),
        key=lambda q: (queue_pos.get(q, len(queue_pos)), registered.index(q)),
    )
    seen_front = set(red) | set(retired)
    recheck = sorted(
        (
            q
            for q in registered
            if q in last and last[q][1] and q not in seen_front
        ),
        key=lambda q: (last[q][0], registered.index(q)),
    )
    front = red + retired + never
    # The reserve may only displace NEVER-CHECKED rows, never a RED or
    # ORACLE-RETIRED row (round-11 review finding: a bad round with
    # >40 red rows must still front-load every one of them).
    cut = max(len(red) + len(retired), _WINDOW_SIZE - _RECHECK_RESERVE)
    return (
        front[:cut]
        + recheck[:_RECHECK_RESERVE]
        + front[cut:]
        + recheck[_RECHECK_RESERVE:]
    )


def load_all_operators() -> None:
    """Import every operator module exactly once (idempotent), then
    order the registry so the driver's capped per-round sweep lands on
    (1) red rows, (2) oracle-retired rows, (3) never-checked rows,
    (4) oldest-green re-checks — computed mechanically from the
    CORRECTNESS_r*.json ledgers (compute_window_order); if the ledgers
    are unreadable the registry keeps registration order."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    try:
        pinned = compute_window_order()
    except (OSError, ValueError, KeyError, json.JSONDecodeError) as exc:
        # Narrow catch (ADVICE r10): only unreadable/malformed ledgers
        # fall back to registration order, and loudly — a regression in
        # the ordering code itself must not silently sweep a stale
        # window.
        warnings.warn(
            f"compute_window_order() failed ({exc!r}); keeping "
            "registration order",
            RuntimeWarning,
            stacklevel=2,
        )
        pinned = []
    rest = [q for q in QUERIES if q not in set(pinned)]
    reordered = {q: QUERIES[q] for q in [*pinned, *rest]}
    QUERIES.clear()
    QUERIES.update(reordered)
    _loaded = True
