"""All-keys plan-scalability sweep (VERDICT r12 item 1a).

Every registered query's executed plan is checked for the classic
100 TB plan-killers (CartesianProduct / BroadcastNestedLoopJoin /
Exchange SinglePartition) — `plans.scale_killers`, the one definition
`assert_scalable` also raises on — with
ONE explicit exemption table mapping each key that legitimately trips
to its documented bounded-relation reason. This is the gate whose
absence let q_behavior_gini / q_text_heaps_law ship user-/doc-grain
single-partition windows in r12: a NEW key that funnels an unbounded
relation now fails here unless its author writes down why the
funneled relation is bounded.

Exemption CLASSES (the reasons, shared across the sets below):

- GLOBAL VERDICT — the output is a global (or few-group) statistic;
  the SinglePartition exchange holds a POST-AGGREGATION bounded
  relation (a partial/combinable agg upstream did the data-sized work
  map-side), or a TakeOrdered-limited head. The funnel carries O(1)
  or O(|domain|) rows, never the corpus.
- ONE-ROW BROADCAST — the plan crossJoins a 1-row (or
  grid/calendar-bounded) statistic (corpus total, observed test stat,
  max-id, fitted constants) onto another bounded relation; Catalyst
  plans the constant-key join as BroadcastNestedLoopJoin (it folds
  foldable equi-keys — the documented Lloyd-shape pattern). Both
  sides bounded by construction.
- BOUNDED PANEL — the nested-loop side is a FIXED probe panel /
  candidate set / constant parameter grid (the q_emb_hamming_knn /
  q_ml_knn_classify posture): panel×corpus is linear in the corpus.
- INTENTIONAL CROSS — q_join_cross IS the cross-join operator.

A second audit pins WINDOW funnels specifically: any Window node
with an empty PARTITION BY (global ordered/running window) must
appear in GLOBAL_WINDOW_BOUNDED with the bounded-input argument, and
any window partitioned ONLY by enum-like bounded-domain keys (the
same funnel in disguise at 100× — VERDICT r12 item 5) must appear in
BOUNDED_DOMAIN_WINDOW_OK with its pre-aggregation argument.

Both tables are RATCHETS: an exempted key that stops tripping must be
removed (stale-exemption assertion), and a new tripping key fails
until justified here.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

from spark_sklearn_spark.plans.inspect import (
    bounded_key_windows,
    executed_plan,
    scale_killers,
    window_partitions_from_text,
)

# --- SinglePartition only: global-verdict aggregates --------------------
GLOBAL_VERDICT = {
    "q_behavior_gini",  # count-of-counts collapse + 1-row Gini (r13)
    "q_behavior_yule_simon",  # per-user collapse + 1-row moments (r13)
    "q_behavior_uplift", "q_dq_double_charge", "q_dq_engine_canary",
    "q_dq_orphans", "q_dq_rules", "q_dq_table_checksum",
    "q_dq_uniqueness", "q_fn_surrogate_key", "q_funnel_latency",
    "q_funnel_ordered", "q_funnel_window", "q_graph_assortativity",
    "q_graph_bfs", "q_graph_label_prop", "q_join_asof_tolerance",
    "q_join_pit_scd2", "q_layout_compaction", "q_ml_anova", "q_ml_auc",
    "q_ml_confusion", "q_ml_cv_stability", "q_ml_kappa",
    "q_ml_mannwhitney", "q_ml_mcnemar", "q_ml_tost", "q_profile_corr",
    "q_scan_parquet", "q_tpch_q14", "q_tpch_q15", "q_tpch_q17",
    "q_tpch_q19", "q_tpch_q6", "q_ts_calendar_dim", "q_ts_granger",
    "q_ts_periodogram", "q_ts_survival", "q_win_pct_change",
    "q_ts_runs_test",  # daily-grain windows + 1-row moment agg (r14)
    "q_ts_turning_points",  # daily-grain lag/lead + 1-row agg (r14)
    "q_ts_variance_ratio",  # daily-grain frames + 1-row moments (r14)
    "q_dedup_cdc",  # in-row chunking + 1-row corpus agg (r14)
    "q_ml_mcc",  # 4-cell confusion agg + 1-row metrics (r14)
    "q_ml_odds_ratio",  # 4-cell 2x2 agg + 1-row effect sizes (r14)
    "q_ts_dow_eta2",  # calendar collapse + 7-group rollup (r14)
    "q_ml_fdr_bh",  # stacked global windows over the m-row
    # (|event_types|) test-family relation — no joins at all (r15)
}

# --- BNLJ + SinglePartition: 1-row/bounded statistic broadcasts ---------
ONE_ROW_BROADCAST = {
    "q_basket_lift", "q_behavior_markov", "q_behavior_powerlaw",
    "q_behavior_rfm", "q_dedup_funnel", "q_dq_benford", "q_dq_freshness",
    "q_dq_schema_drift", "q_dq_skew", "q_emb_isotropy",
    "q_feat_mutual_info", "q_feat_quantile_bin", "q_feat_target_encode",
    "q_feat_woe", "q_graph_kcore", "q_graph_modularity",
    "q_ml_bootstrap_ci", "q_ml_chi2",
    "q_ml_davies_bouldin", "q_ml_friedman", "q_ml_gains", "q_ml_kruskal",
    "q_ml_ks", "q_ml_logrank", "q_ml_logreg", "q_ml_naive_bayes",
    "q_ml_nmi", "q_ml_permutation_test", "q_ml_pinball",
    "q_ml_rand_index", "q_ml_tree_depth2", "q_pii_tokenize",
    "q_sample_balanced", "q_sample_neyman", "q_sample_temperature",
    "q_search_hybrid_rrf", "q_sketch_ams", "q_sketch_hll_merge",
    "q_sketch_theta", "q_source_csv_dirty", "q_source_glob_tree",
    "q_source_json_corrupt", "q_text_bm25", "q_text_burstiness",
    "q_text_heaps_law",  # 1-row max-doc broadcast + ≤4096-bucket curve
    "q_text_keywords", "q_text_kl_source", "q_text_perplexity",
    "q_text_pmi", "q_text_tfidf", "q_tpch_q11", "q_tpch_q22",
    "q_ts_backtest", "q_ts_cross_correlation", "q_ts_hurst",
    "q_ts_ljung_box", "q_ts_pacf",
    "q_ts_piecewise_trend",  # 1-row totals broadcast + daily grain (r13)
    "q_ts_spectral_entropy",  # 12-row DFT grid + 1-row dominant (r13)
    "q_ml_sprt",  # calendar LLR walk + 1-row crossing heads (r13)
    "q_ml_psi",  # 10-cell bucket grid + 1-row totals broadcast (r13)
    "q_graph_rich_club",  # two 1-row k-grid aggs, Lloyd-shape (r13)
    "q_ml_cramers_v",  # grid-sized marginals + 1-row totals (r14)
    "q_ml_brier_decomp",  # 1-row weights/totals broadcasts (r14)
    "q_ml_theil_u",  # grid-sized moment relations, Lloyd-shape (r14)
    "q_ml_ece",  # 1-row weights broadcast + 10-row bins (r14)
    "q_ts_sample_entropy",  # calendar-bounded pair BNLJ + 1-row tol (r14)
    "q_ts_drawdown",  # daily-grain windows + 1-row totals (r14)
    "q_graph_conductance",  # 1-row 2E broadcast, snapshot-sized (r14)
    "q_win_pareto",
    "q_graph_hits",  # two 1-row L1-total broadcasts onto the bounded
    # per-node walk-count relations; the data-sized work happened in
    # the partial message-sum aggs map-side (r16)
    "q_dedup_containment_idf",  # 1-row corpus-size (N) broadcast onto
    # the DF-capped postings relation for the ln(N)−ln(df) weights —
    # the q_text_tfidf shape (r16)
    "q_ml_hosmer_lemeshow",  # 1-row lr_fit weights broadcast + 10-bin
    # term arithmetic — exactly the q_ml_ece shape (r16)
}

# --- BNLJ only: fixed probe panels / bounded candidate relations --------
BOUNDED_PANEL = {
    "q_dedup_recall_srp", "q_emb_ann_recall_ivf", "q_emb_hamming_knn",
    "q_emb_mutual_knn", "q_emb_prefix_eval", "q_emb_recall_grid",
    "q_join_cross",  # INTENTIONAL CROSS — the operator's semantics
    "q_ml_calibration",  # 1-row fitted-weights broadcast only — the
    # r14 lr_fit snapshot memo removed its SinglePartition (weights
    # read from the memo parquet, output stays bin-grain); the
    # per-kind stale ratchet caught the change the round it landed
    "q_ml_cohen_d", "q_ml_isotonic_bins", "q_ml_knn_classify",
    "q_ml_label_noise_knn", "q_ml_lof", "q_ml_ndcg", "q_ml_pr_curve",
    "q_ml_silhouette", "q_sim_ann_ivf_kmeans", "q_sim_knn_brute",
    "q_ml_mrr",  # fixed probe panel x corpus, the q_ml_ndcg shape (r14)
    "q_sim_mmr_rerank", "q_text_bpe_merge", "q_ts_autocorr",
}

# The exemption is per (key, kind): a class grants EXACTLY its kinds
# (ADVICE r13 — the old blanket ONE_ROW_BROADCAST | BOUNDED_PANEL
# overwrite silently handed every panel key a SinglePartition pass,
# and per-key staleness let an expired BNLJ justification hide behind
# a still-tripping SinglePartition). A key that outgrows its class's
# exact kind set moves class, it doesn't get a wider grant —
# re-measured this round: all 123 exempted keys trip EXACTLY their
# class kinds (GLOBAL_VERDICT = {SinglePartition}, ONE_ROW_BROADCAST
# = both, BOUNDED_PANEL = {BNLJ}).
SCALE_EXEMPT: dict[str, set[str]] = {}
for _k in GLOBAL_VERDICT:
    SCALE_EXEMPT[_k] = {"SinglePartition"}
for _k in ONE_ROW_BROADCAST:
    SCALE_EXEMPT[_k] = {"BroadcastNestedLoopJoin", "SinglePartition"}
for _k in BOUNDED_PANEL:
    SCALE_EXEMPT[_k] = {"BroadcastNestedLoopJoin"}
# q_join_cross is the one key whose nested loop is the point; a
# cartesian node is equally acceptable there
CARTESIAN_OK = {"q_join_cross"}


# --- global (un-partitioned) windows: bounded-input arguments -----------
GLOBAL_WINDOW_BOUNDED = {
    # count-of-counts / value-histogram collapses (bounded by distinct
    # VALUES, not rows)
    "q_behavior_gini": "cumsum over the count-of-counts collapse",
    "q_dq_skew": "tied-rank Gini over the count-of-counts collapse",
    "q_ml_mannwhitney": "rank window over the value histogram",
    "q_ml_kruskal": "rank window over the value histogram",
    "q_ml_gbm_round": "split-scan prefix window over bounded buckets",
    # calendar-/horizon-/grid-bounded series
    "q_ts_hurst": "block-grain R/S windows (log2 n blocks)",
    "q_ts_ljung_box": "bounded-lag Q cumsum over the lag relation",
    "q_ts_survival": "horizon-bounded KM product window",
    "q_ml_cv_stability": "fold-grid window (candidate×fold bounded)",
    "q_ml_bootstrap_ci": "32-replicate grid percentile window",
    # score-distribution grains (quantized scores → bounded distinct)
    "q_ml_auc": "ROC cumsum over the quantized score histogram",
    "q_ml_ks": "CDF-gap window over the quantized score histogram",
    "q_ml_gains": "decile window over the quantized score histogram",
    # top-k / TakeOrdered / constant-size heads
    "q_search_hybrid_rrf": "window over the 2×20-row fused retrieval",
    "q_text_zipf": "rank window over the top-K TakeOrdered vocabulary",
    "q_emb_pca_topk": "top-k window over the 64-row iterate projection",
    "q_emb_pq_adc": "window over the 256-cell codebook relation",
    "q_sketch_ams": "sign-fold window over the 64-sketch-cell grid",
    "q_text_heaps_law": "cumsum over the ≤4096 doc-bucket curve (r13)",
    "q_ts_piecewise_trend": "prefix-moment windows over the"
    " calendar-bounded daily relation (r13)",
    "q_ml_sprt": "LLR cumsum + crossing row-number over the"
    " calendar-bounded daily relation (r13)",
    "q_ts_runs_test": "lag-delta/lag-sign windows over the"
    " calendar-bounded daily relation (r14)",
    "q_ts_turning_points": "lag/lead extremum window over the"
    " calendar-bounded daily relation (r14)",
    "q_ts_variance_ratio": "overlapping-sum frames over the"
    " calendar-bounded daily relation (r14)",
    "q_ts_sample_entropy": "row-number/lead template windows over"
    " the calendar-bounded daily relation (r14)",
    "q_ts_drawdown": "cumsum/running-max/run-length windows over"
    " the calendar-bounded daily relation (r14)",
    # misc bounded relations
    "q_ml_fdr_bh": "BH rank + step-up running-min windows over the"
    " m-row (|event_types|) test-family relation (r15)",
    "q_layout_compaction": "window over the file-metadata relation"
    " (files-per-partition bounded by the compaction target)",
    "q_win_pareto": "global share cumsum over the bounded group"
    " relation (category grain)",
    "q_win_pct_change": "declared single-series operator: month-grain"
    " pre-aggregation precedes the global lag window",
}

# --- enum-key-partitioned windows: pre-aggregation arguments ------------
BOUNDED_DOMAIN_WINDOW_OK = {
    "q_agg_approx_percentile": "per-flag cents-bin prefix (bounded"
    " bins per partition)",
    "q_emb_outliers": "per-label top-k over pre-agged distances",
    "q_mix_budget": "per-lang cumsum over source-grain pre-agg",
    "q_ml_spearman": "per-type rank over the daily calendar collapse",
    "q_sample_balanced": "per-lang rank for exact-k pick — rank input"
    " is the hash-salted candidate subset",
    "q_sample_reservoir": "per-source k-min pick over hash-ordered"
    " keys (WindowGroupLimit prunes to k per partition map-side)",
    "q_sketch_hist_quantiles": "per-type bounded cents bins",
    "q_text_ngram_counts": "per-lang top-k over gram-grain pre-agg",
    "q_text_tfidf": "per-lang top-k over the scored vocabulary",
    "q_ts_changepoint": "per-type daily-grain windows",
    "q_ts_cusum": "per-type daily-grain cusum stack",
    "q_ts_holt": "per-type daily-grain smoothing recursion",
    "q_ts_peaks": "per-type daily-grain neighbor windows",
    "q_ts_rolling_median": "per-type daily-grain rolling frame",
    "q_ts_stl": "per-type daily-grain decomposition windows",
    "q_layout_overlap_depth": "per-layout endpoint sweep over the"
    " day-grain start/end counts (calendar-bounded input, r13)",
    "q_ts_sma_cross": "per-type daily-grain SMA frames + crossing"
    " lag over the calendar collapse (r16)",
    "q_ts_dickey_fuller": "per-type daily-grain lag window over the"
    " calendar collapse feeding the moment agg (r16)",
    "q_win_distribution": "per-status distribution over order grain —"
    " declared operator semantics (cume_dist/percent_rank per status);"
    " the partition count is the parallelism floor by definition",
}


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir):
    """One executed-plan pass over every registered key (plan text is
    reused by all sweep tests below)."""
    return {
        name: executed_plan(fn(spark, sf_dir))
        for name, fn in entry.queries().items()
    }


def test_all_keys_scale_sweep(all_plans):
    unexempted: list[tuple[str, list[str]]] = []
    stale: list[tuple[str, str]] = []
    for name, plan in all_plans.items():
        kills = scale_killers(plan)
        if name in CARTESIAN_OK:
            kills.discard("CartesianProduct")
        allowed = SCALE_EXEMPT.get(name, set())
        if kills - allowed:
            unexempted.append((name, sorted(kills - allowed)))
        # staleness is per (key, kind): an exempted kind the plan no
        # longer trips must be retired even when a sibling kind still
        # fires (ADVICE r13)
        stale.extend((name, kind) for kind in sorted(allowed - kills))
    assert not unexempted, (
        "scale-killers without a documented exemption: "
        f"{sorted(unexempted)}"
    )
    assert not stale, (
        f"stale (key, kind) exemptions (no longer tripping): {stale}"
    )


def test_global_windows_have_bounded_inputs(all_plans):
    missing: list[str] = []
    stale: list[str] = []
    for name, plan in all_plans.items():
        has_global = any(
            p == [] for p in window_partitions_from_text(plan)
        )
        if has_global and name not in GLOBAL_WINDOW_BOUNDED:
            missing.append(name)
        if not has_global and name in GLOBAL_WINDOW_BOUNDED:
            stale.append(name)
    assert not missing, (
        "global windows without a bounded-input argument: "
        f"{sorted(missing)}"
    )
    assert not stale, f"stale global-window exemptions: {sorted(stale)}"


def test_bounded_domain_windows_are_justified(all_plans):
    missing: list[str] = []
    stale: list[str] = []
    for name, plan in all_plans.items():
        flagged = bounded_key_windows(plan)
        if flagged and name not in BOUNDED_DOMAIN_WINDOW_OK:
            missing.append(name)
        if not flagged and name in BOUNDED_DOMAIN_WINDOW_OK:
            stale.append(name)
    assert not missing, (
        "enum-key-partitioned windows without a pre-aggregation "
        f"argument: {sorted(missing)}"
    )
    assert not stale, f"stale bounded-window exemptions: {sorted(stale)}"
