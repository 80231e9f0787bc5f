"""Scale probe — measure how headline operators scale with data size.

Replicates the sf0.1 fixture K× (default 5×) into
``spark-warehouse/scale/sf0.1xK/`` with key-space offsets that
preserve the fixture's statistical shape (per-user event densities,
per-order line counts, near-dup cluster sizes), then times a
representative query per family at 1× and K× and prints one JSON line
with walls and the wall ratio per query.

A scalable operator should show ratio ≈ K (linear scan/shuffle work)
or lower (calendar/vocabulary-bounded outputs); a superlinear ratio
flags a hidden quadratic. Record the result in BASELINE.md.

Usage: python tools/scale_probe.py [K] [query ...] [--fixed-panel]

``--fixed-panel`` pins the LOF/mutual-kNN probe panel to the base
replica's vec_id%50 members while the corpus replicates K× (panels
otherwise grow with the replica by construction), proving the
panel×corpus-linear claim directly; defaults to probing q_ml_lof,
q_emb_mutual_knn, and q_sim_ann_ivf_kmeans.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_SF = "/root/testdata/sf0.1"

# One representative per family: scan+agg, 3-way join, window,
# LSH dedup, Arrow block-matmul kNN, sessionization, postings join.
PROBE_QUERIES = [
    "q_agg_hash",
    "q_tpch_q3",
    "q_win_rank",
    "q_dedup_minhash",
    "q_sim_knn_batch",
    "q_behavior_sessionize",
    "q_dedup_ngram",
    # round-7 families: constant-cell sketch, stateless feature map,
    # doc-partitioned keyword window, lang-partitioned mix cumsum
    "q_sketch_countmin",
    "q_feat_hashing",
    "q_text_keywords",
    "q_mix_budget",
    # round-7 late batch: quantized-message pagerank, bigram-LM
    # perplexity (LM-count joins), KL drift, AUC-style cumsum
    "q_graph_pagerank",
    "q_text_perplexity",
    "q_text_kl_source",
    "q_ml_auc",
    # round-7 close: capped postings projection, single-scan drift agg,
    # token-model fit + broadcast-class scoring join
    "q_graph_copurchase",
    "q_dq_schema_drift",
    "q_ml_naive_bayes",
    # declared Lloyd rounds: broadcast-centroid scoring passes
    "q_ml_kmeans",
    # declared GD: three combinable gradient-sum passes
    "q_ml_logreg",
    # PQ encode + ADC code-join scan
    "q_emb_pq_adc",
    # window-form CUSUM over the aggregated daily series
    "q_ts_cusum",
    # portable-signature banding + exact postings join
    "q_dedup_recall_minhash",
    # declared IVF: Lloyd quantizer + cell-key candidate join
    "q_sim_ann_ivf_kmeans",
    # histogram split finding: bucket agg + one prefix window
    "q_ml_tree_stump",
    # per-leaf split iteration: two scans, broadcast root routing
    "q_ml_tree_depth2",
    # banded candidates + clipped-head Levenshtein verify
    "q_dedup_editdist",
    # per-user combinable agg -> horizon-bounded KM windows
    "q_ts_survival",
    # two TakeOrdered retrievals + a 20-row fusion join
    "q_search_hybrid_rrf",
    # regression-histogram boosting step: bucket agg + prefix window
    "q_ml_gbm_round",
    # GD-fit scoring pass + 10-group combinable agg
    "q_ml_calibration",
    # posexplode scan -> bounded centroid relation self-join
    "q_emb_centroid_sim",
    # broadcast signature self-score (quadratic pairs, codegen XOR)
    "q_ml_label_noise_knn",
    # batch-vs-corpus probe: hash equi-join + bucket-min band join
    "q_dedup_incremental",
    # round-8: segment explode + count join, gram first-occurrence,
    # five combinable audits, scoring projection agg, bucket-explode
    # interval join, decimal-moments ridge solve
    "q_dedup_segments",
    "q_text_novelty",
    "q_dq_uniqueness",
    "q_text_lang_confusion",
    "q_join_interval_overlap",
    "q_ml_ridge",
    # r8 continuation: bounded-bin quantile sketch, epoch planning,
    # integer Gram + power iteration
    "q_sketch_hist_quantiles",
    "q_mix_epochs",
    "q_emb_pca_power",
    # r8 continuation 2: one-scan rule audit, integer-cents LTV cumsum
    "q_dq_rules",
    "q_behavior_ltv",
    # r8 pipeline12: digit agg, pathing window, calendar-grain
    # windows/pairs, panel kNN, two-shuffle ALS, merge+recount scans
    "q_dq_benford",
    "q_behavior_pathing",
    "q_ts_rolling_median",
    "q_ts_holt",
    "q_ts_theilsen",
    "q_ml_knn_classify",
    "q_ml_als_round",
    "q_text_bpe_merge",
    # r8 pipeline13: calendar distinct aggs, format agg, fused norm
    # fold, per-set top-k hash window, vocab pair join, checkpointed
    # frontier joins, panel NDCG
    "q_behavior_stickiness",
    "q_fn_datetime_format",
    "q_emb_norm_audit",
    "q_sketch_kmv",
    "q_text_jsd_pairwise",
    "q_graph_bfs",
    "q_ml_ndcg",
    # r8 pipeline14 (landing debt): calendar-grain decomposition,
    # lead-window matrix chains, wedge-join clustering, one-scan CV
    "q_ts_stl",
    "q_behavior_markov",
    "q_ml_pinball",
    "q_graph_clustcoeff",
    "q_ml_cv_stability",
    # r9 pipeline15: shared-fit projection, calendar cusum/argmax,
    # label-count WOE, edge-anchored wedge Jaccard, block R/S,
    # absorbing chain, token diversity, bucketed band join, perm-
    # exploded minhash containment, cents-histogram quantiles
    "q_emb_pca_topk",
    "q_ts_changepoint",
    "q_feat_woe",
    "q_graph_jaccard_nbrs",
    "q_ts_hurst",
    "q_behavior_absorbing",
    "q_text_simpson",
    "q_join_range_bucket",
    "q_text_minhash_containment",
    "q_agg_approx_percentile",
    # r9 batch B: calendar-bounded rank stats, snapshot stub sums,
    # lag-window gap histogram, k-min hash sampling, rollup audit,
    # and the literal Q1
    "q_ml_spearman",
    "q_ml_kendall",
    "q_graph_assortativity",
    "q_behavior_gaps",
    "q_sample_reservoir",
    "q_dq_reconcile",
    "q_tpch_q1",
    # r9 batch C: bounded file build + binaryFile scan, partition
    # modularity on memoized snapshots, two-pass whitening audit
    "q_source_binaryfile",
    "q_graph_modularity",
    "q_emb_whiten",
    # r9 batch D: distinct-day islands window, 1-row Neyman totals,
    # panel-broadcast IVF recall eval
    "q_win_gaps_islands",
    "q_sample_neyman",
    "q_emb_ann_recall_ivf",
    # r9 batch E: value-histogram rank test, 5-group moment ANOVA,
    # daily-grain PACF, top-K KMV set algebra, vocab-grain AMS F2,
    # integer CIDR classify, grid-cell radius join, count-of-counts
    # Gini audit, 3 unrolled label-prop supersteps
    "q_ml_mannwhitney",
    "q_ml_anova",
    "q_ts_pacf",
    "q_sketch_theta",
    "q_sketch_ams",
    "q_fn_ip",
    "q_geo_grid_join",
    "q_dq_skew",
    "q_graph_label_prop",
    # r9 batch F: per-user collapse + bounded-grid logrank, one-agg
    # paired tests, 32x-explode bootstrap, asof + post-predicate,
    # zone-map audit, dirty-JSONL read
    "q_ml_logrank",
    "q_ml_mcnemar",
    "q_ml_kappa",
    "q_ml_bootstrap_ci",
    "q_join_asof_tolerance",
    "q_layout_file_skipping",
    "q_source_json_corrupt",
    # r9 batch G: O(n·k) rescore silhouette, memoized-scatter DB
    # index, unrolled farthest-point rounds, fact-spine rule join
    "q_ml_silhouette",
    "q_ml_davies_bouldin",
    "q_ml_kcenter_init",
    "q_dq_crossfield",
    # r9 batch H: day-grid rank windows, per-user arm collapse,
    # bucket-anchored downsampling pick
    "q_ml_friedman",
    "q_behavior_uplift",
    "q_ts_lttb",
    # r9 batch I: memoized-fit contingency aggs, capped postings AA,
    # calendar-grain bands, token projection + spine joins
    "q_ml_cluster_purity",
    "q_ml_rand_index",
    "q_graph_adamic_adar",
    "q_ts_bollinger",
    "q_pii_tokenize",
    # r9 batch J: asof PIT consumption, per-table checksum scans,
    # bounded ESD rounds, contingency NMI
    "q_join_pit_scd2",
    "q_dq_table_checksum",
    "q_ts_esd",
    "q_ml_nmi",
    # r9 batch K: daily-grain Cramer OLS, 2-group Welch pivot,
    # partitioned-tree dual reads
    "q_ts_granger",
    "q_ml_tost",
    "q_source_glob_tree",
    # r9 batch L: daily-grain rank test, per-user tail MLE,
    # selective-key dup audit
    "q_ml_kruskal",
    "q_behavior_powerlaw",
    "q_dq_double_charge",
    # r10 batch (probes owed per VERDICT r11 item 4): 64-bit bitmap
    # word aggs, BFS closeness on the memoized snapshot, SAX symbol
    # windows, PAV-via-window isotonic bins, IQR fences, peak windows,
    # two-group Cohen's d, windowed funnel scan
    "q_fn_bitmap_words",
    "q_graph_closeness",
    "q_ts_sax",
    "q_ml_isotonic_bins",
    "q_dq_outlier_iqr",
    "q_ts_peaks",
    "q_ml_cohen_d",
    "q_funnel_window",
    # r11 promotions: collect_list-bounded per-user Lloyd fits,
    # fixed 4096-cell raster resize
    "q_ml_keyed_cluster",
    "q_multimodal_resize",
    # r12 promotion: CV fan-out + portable fold counts
    "q_ml_grid_search",
    # r12 batch A: integer walk-count joins on the edge snapshot,
    # fixed-panel LOF pairs, bounded-grid MI
    "q_graph_katz",
    "q_ml_lof",
    "q_feat_mutual_info",
    # r12 batch B: shared-fit 4096-cell agg, one-scan 16-rep
    # hash-permutation agg
    "q_emb_isotropy",
    "q_ml_permutation_test",
    # r12 batch C: calendar-bounded LB moments, daily ordinal
    # patterns, panel mutual-kNN
    "q_ts_ljung_box",
    "q_ts_permutation_entropy",
    "q_emb_mutual_knn",
    # r12 batch D: dual calendar collapses + lag join, vocab-grain
    # Fano aggs, lead-window transition entropy
    "q_ts_cross_correlation",
    "q_text_burstiness",
    "q_behavior_entropy_rate",
    # r12 batch E (de-funneled r13): count-of-counts tied-rank
    # moments, bucket-sampled growth curve OLS
    "q_behavior_gini",
    "q_text_heaps_law",
    # r13 batch: integer-rational moments fit, prefix-moment window
    # split scan, min-label + attachment-histogram joins
    "q_behavior_yule_simon",
    "q_ts_piecewise_trend",
    "q_graph_leiden_refine",
    # r13 batch 2: user×type lag/lead moments, fused 24-sum DFT agg,
    # (lang, doc, segment) distinct rollup
    "q_behavior_interarrival",
    "q_ts_spectral_entropy",
    "q_text_msttr",
    # r13 batch 3: doc-partitioned phrase cumsum + vocab rollup,
    # calendar LLR walk, day-grain endpoint sweep
    "q_text_rake",
    "q_ml_sprt",
    "q_layout_overlap_depth",
    # r13 batch 4: 10-cell drift grid, k-grid degree sums on the
    # edge snapshot, shared-signature banded histogram
    "q_ml_psi",
    "q_graph_rich_club",
    "q_dedup_simhash_hist",
    # r13 deep-probe additions: salted skew join, winnowing windows
    "q_join_skew",
    "q_text_winnow",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def build_replica(spark, k: int) -> str:
    from pyspark.sql import functions as F

    out = os.path.join(ROOT, "spark-warehouse", "scale", f"sf0.1x{k}")
    if all(
        os.path.exists(os.path.join(out, f"{t}.parquet")) for t in TABLES
    ):
        return out
    os.makedirs(out, exist_ok=True)
    from spark_sklearn_spark.sources.io import load

    # Key offsets per replica r>0; dims (region/nation/customer/
    # supplier/part) are NOT replicated — a bigger fact table joins
    # the same dimensions, like production.
    for t in ("region", "nation", "customer", "supplier", "part"):
        load(spark, BASE_SF, t).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )

    def replicate(name, offsets):
        base = load(spark, BASE_SF, name)
        parts = [base]
        for r in range(1, k):
            rep = base
            for col, off in offsets.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(r * off))
            parts.append(rep)
        dfu = parts[0]
        for p in parts[1:]:
            dfu = dfu.unionByName(p)
        dfu.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))

    replicate("orders", {"o_orderkey": 1_000_000_000})
    replicate("lineitem", {"l_orderkey": 1_000_000_000})
    # events: new users + new ids per replica, time range unchanged —
    # per-user session/window sizes stay fixture-like
    replicate("events", {"event_id": 1_000_000_000, "user_id": 1_000_000})
    # documents: new doc ids; text untouched, so each replica carries
    # the same internal near-dup structure and CROSS-replica exact
    # dups too (the hard case for LSH banding: bigger clusters)
    replicate("documents", {"doc_id": 1_000_000_000})
    replicate("embeddings", {"vec_id": 1_000_000_000})
    return out


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--fixed-panel"]
    fixed_panel = "--fixed-panel" in sys.argv[1:]
    k = int(argv[0]) if argv else 5
    only = set(argv[1:])
    # the checkout root goes on the driver's sys.path and, before the
    # session starts, on PYTHONPATH, so Python workers import the package
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entry
    from spark_sklearn_spark.session import createLocalSparkSession

    spark = createLocalSparkSession("scale-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    replica = build_replica(spark, k)

    if fixed_panel:
        # VERDICT r12 item 6: the plain replica probe grows the
        # vec_id%10 panel K× along with the corpus, so its ratio
        # measures panel growth, not corpus scaling. Pin the panel to
        # the BASE replica's vec_id%50 members (identical set at 1×
        # and K× — replica offsets are ≥1e9) and replicate only the
        # corpus: a panel×corpus-linear operator then shows a ~flat
        # wall dominated by the scan.
        from pyspark.sql import functions as F

        from spark_sklearn_spark.queries import pipeline8, pipeline30

        pipeline30._panel_predicate = lambda: (
            (F.col("vec_id") % 50 == 0)
            & (F.col("vec_id") < 1_000_000_000)
        )
        pipeline8._ivf_probe_predicate = lambda: (
            (F.col("vec_id") % 100 == 0)
            & (F.col("vec_id") < 1_000_000_000)
        )
        from spark_sklearn_spark.queries import pipeline34

        pipeline34._mrr_probe_predicate = lambda: (
            (F.col("vec_id") % 100 == 0)
            & (F.col("vec_id") < 1_000_000_000)
        )
        if not only:
            only = {"q_ml_lof", "q_emb_mutual_knn", "q_sim_ann_ivf_kmeans"}

    qs = entry.queries()

    def run(name, sf_dir):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        return wall

    results = {}
    # positional query args probe ANY registered key (not just the
    # curated PROBE_QUERIES panel); unknown names fail loudly
    unknown = only - set(qs)
    if unknown:
        raise SystemExit(f"unregistered queries: {sorted(unknown)}")
    for name in sorted(only) if only else PROBE_QUERIES:
        run(name, BASE_SF)  # codegen warm-up rep
        w1 = min(run(name, BASE_SF), run(name, BASE_SF))
        wk = min(run(name, replica), run(name, replica))
        results[name] = {
            "x1_sec": round(w1, 3),
            f"x{k}_sec": round(wk, 3),
            "ratio": round(wk / w1, 2),
        }
        print(f"# {name}: {w1:.2f}s -> {wk:.2f}s  ratio {wk / w1:.2f}",
              file=sys.stderr)

    print(
        json.dumps(
            {
                "k": k,
                "base": BASE_SF,
                "fixed_panel": fixed_panel,
                "queries": results,
            }
        )
    )


if __name__ == "__main__":
    main()
