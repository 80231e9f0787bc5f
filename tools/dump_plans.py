"""Regenerate PLANS.md — formatted physical plans of the headline
operators with scale commentary.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NOTES = {
    "q_agg_hash": (
        "Flagship TPC-H Q1 shape: pushed filter at the scan, partial "
        "HashAggregate before the exchange, final after — one shuffle "
        "on the two group keys."
    ),
    "q_join_shuffle": (
        "Large-large equi-join: a single exchange on the fact key; AQE "
        "may convert to broadcast at small sf."
    ),
    "q_join_broadcast": "Dim join: BroadcastHashJoin — the fact side never shuffles.",
    "q_join_theta": (
        "Inequality join as banded equi-join: hash join on __band with "
        "the true predicate as residual — no BroadcastNestedLoopJoin."
    ),
    "q_join_asof": (
        "As-of: union + ONE exchange on the key + in-partition window; "
        "no pair materialization."
    ),
    "q_join_range_ts": (
        "Interval join via time-bucket explode + equi-join + residual — "
        "bounded replication instead of a range nested loop."
    ),
    "q_win_ntile": (
        "Global ntile via histogram buckets: the only window partitions "
        "by __bucket (local sorts); no SinglePartition funnel."
    ),
    "q_scan_pushdown": (
        "PushedFilters reach the parquet scan; row groups outside the "
        "predicate range are skipped by min/max stats."
    ),
    "q_dedup_minhash": (
        "LSH band join: explode only (doc, band) pairs, hash join on "
        "(band_idx, band_hash), exact verify joins only surviving pairs."
    ),
    "q_sim_pairs_threshold": (
        "Block-matmul self-join: bucket-pair tasks via explode, "
        "applyInPandas BLAS per task; no cartesian."
    ),
    "q_decontaminate": (
        "Benchmark n-grams (tiny) broadcast; the corpus gram stream is "
        "consumed ONCE via a left join with a hit marker feeding a single "
        "combinable per-doc agg. explode_outer keeps the interpreted "
        "ngram transform out of the scan filter."
    ),
    "q_sim_knn_batch": (
        "Batched kNN: mapInPandas scores every query per Arrow batch with "
        "one BLAS matmul and emits only local top-k per query (bounded "
        "Python→JVM rows); query_id-partitioned window finishes the rank."
    ),
    "q_pack_sequences": (
        "Sequence packing: ONE shuffle on (source, shard), a running-sum "
        "window per stream, integer arithmetic only — shard count scales "
        "the packing streams with the cluster."
    ),
    "q_emb_outliers": (
        "Centroids are (label, dim) cells — bounded, broadcast back; "
        "distance is a second combinable agg; top-k window partitions by "
        "label."
    ),
    "q_text_bm25": (
        "Early isin(terms) filter bounds the exploded stream; df/stats "
        "are tiny broadcasts; decimal-path score sum; "
        "TakeOrderedAndProject top-k."
    ),
    "q_layout_zorder": (
        "Morton key = 16 codegen'd integer ops per row, no shuffle "
        "before the bounded per-bucket stats agg; production rewrite is "
        "repartitionByRange(zkey) + sortWithinPartitions."
    ),
    "q_dedup_simhash": (
        "Portable 56-bit md5-head signatures; the wide majority agg "
        "feeds a 7-byte band self-join whose exchange Catalyst REUSES "
        "(no persist — an explicit cache breaks the reuse and measured "
        "2.3× slower); exact bit_count verify on candidates only."
    ),
    "q_behavior_sessionize": (
        "Gap sessionization in ONE user-partitioned window shuffle: lag "
        "and the running boundary sum share (user_id; ts, event_id); the "
        "per-session rollup aggs on a refinement of the same key."
    ),
    "q_ts_ohlc": (
        "First/last via two row_number orderings over the SAME "
        "(event_type, hour) partitioning — one exchange, a sort per "
        "direction — then a calendar-bounded hash agg: 100 TB in, KBs "
        "out."
    ),
    "q_win_pareto": (
        "Top-100 via TakeOrderedAndProject (per-partition heads, no "
        "global sort); the ordered prefix-sum window then runs on the "
        "BOUNDED 100-row relation, so its single partition is scale-"
        "safe."
    ),
    "q_basket_lift": (
        "Basket-keyed postings self-join: fan-out C(order size, 2) per "
        "basket, min-support HAVING prunes before the per-item stats "
        "joins; never item×item."
    ),
    "q_source_partitioned_prune": (
        "event_type predicate lands in PartitionFilters — one "
        "directory scanned at plan time; the other partitions' files "
        "are never opened."
    ),
    "q_sketch_countmin": (
        "CMS build rides the per-key count agg shared with the truth "
        "side (4 md5s per DISTINCT key, summed counts) into ≤4096 "
        "counter cells that become the BROADCAST side; the probe "
        "joins it without shuffling, then min-agg + "
        "TakeOrderedAndProject."
    ),
    "q_sketch_hll_merge": (
        "Registers are (source, bucket) max-aggs — combinable "
        "map-side — merged by a second 256-row max-agg; the estimate "
        "math is a stateless projection on ONE row."
    ),
    "q_feat_quantile_bin": (
        "ONE percentile agg evaluates all nine deciles over a single "
        "buffer; the 1-row edge relation broadcasts into a stateless "
        "bin map feeding a 10-cell agg."
    ),
    "q_dq_orphans": (
        "One scan per child table: lineitem left-joins its three "
        "parents' key sets in a single plan and the agg emits all "
        "three orphan counts at once (stack to rows after)."
    ),
    "q_sample_weighted": (
        "ES keys are a stateless hash map per row; only the top-k "
        "crosses the network via TakeOrderedAndProject — no global "
        "sort, no RNG state."
    ),
    "q_mix_budget": (
        "Gate + ES keys are map-side; ONE exchange on lang feeds the "
        "partition-local cumsum window, budget filter, and the "
        "per-lang rollup on the same key."
    ),
    "q_win_running_distinct": (
        "First-seen flag and running sum are two windows over the "
        "SAME user-hash exchange (only the sort key changes) — one "
        "shuffle, two in-partition sorts."
    ),
    "q_layout_compaction": (
        "Data rows collapse to a 48-row manifest in a combinable agg; "
        "the single-partition cumsum window runs over the MANIFEST "
        "(metadata-sized), never over data rows."
    ),
    "q_graph_copurchase": (
        "Bipartite projection: popularity cap prunes head parts, then "
        "all C(nc, 2) customer pairs generate MAP-SIDE from one "
        "sorted collect_set per part (cap-bounded fan-out, the "
        "adamic-adar shape — no postings self-join); size lookups are "
        "key equi-joins."
    ),
    "q_ml_kmeans": (
        "Unrolled Lloyd: the k-row centroid relation BROADCASTS into "
        "each scoring pass (BroadcastNestedLoopJoin over k rows — "
        "map-side O(k*d) integer folds per vector); the only "
        "exchanges are the per-(cluster, dim) update aggs and the "
        "vec-partitioned argmin windows."
    ),
    "q_ml_logreg": (
        "Each GD step is ONE combinable 3-sum agg over the feature "
        "scan with the 1-row weight relation broadcast in — "
        "gradients shrink map-side; three steps = three passes, no "
        "wide shuffle anywhere."
    ),
    "q_ts_cusum": (
        "CUSUM via the reflection identity: raw events collapse to "
        "the (type, day) series in one combinable agg; the running "
        "sum and running min are stacked windows over the SAME "
        "event_type exchange — decimal-exact, partition-parallel, "
        "no recursion."
    ),
    "q_dedup_recall_minhash": (
        "One DF-capped gram stream feeds BOTH the signature build "
        "(16 md5-head hashes computed once per DISTINCT gram as an "
        "array, joined back on g riding the DF-cap exchange, per-doc "
        "minima in ONE 16-column agg -> band rows via stack) and the "
        "exact postings self-join; candidates equi-join on "
        "(band, h0, h1); the selectivity rollup is a 10-row agg."
    ),
    "q_sim_ann_ivf_kmeans": (
        "IVF on the declared Lloyd fit: centroids broadcast for probe "
        "routing (k-row nested loop + rank window); the candidate "
        "scan is an equi-join on the CELL key — members arrive "
        "cell-partitioned, only nprobe cells are touched per probe."
    ),
    "q_ml_tree_depth2": (
        "Hist-mode tree growth: two scans collapsing to bucket "
        "histograms; the 1-row root relation broadcasts into the "
        "second scan to route rows to leaves — no row-level sort, no "
        "pair join."
    ),
    "q_dedup_editdist": (
        "Funnel-ordered edit-distance tier: exact-dedup reps (hash "
        "agg), banded signatures, STAR pairing via a per-bucket min "
        "window (m-1 edges, linear), then the clipped-head "
        "Levenshtein verify join — candidate-bounded, codegen DP."
    ),
    "q_ts_survival": (
        "Kaplan-Meier: one combinable per-user agg is the only "
        "row-scale shuffle; risk sets and the ln-survival cumsum are "
        "windows over the horizon-bounded (<=49 row) relation."
    ),
    "q_search_hybrid_rrf": (
        "Hybrid RRF: two TakeOrderedAndProject retrieval heads (BM25, "
        "integer-distance vector) + a 20-row full outer join — the "
        "fusion is metadata-sized, the cost is the two scans."
    ),
    "q_ml_gbm_round": (
        "Boosting step: per-bucket (n, sum) combinable agg over "
        "milli-quantized targets + ONE prefix window; variance-"
        "reduction scores on <=55 candidate rows, TakeOrdered top-5."
    ),
    "q_ml_calibration": (
        "Reliability bins: three map-side GD passes (1-row weight "
        "relation broadcast into the scan) + one 10-group combinable "
        "agg; the calibration table is 10 rows."
    ),
    "q_emb_centroid_sim": (
        "Separation matrix: posexplode scan -> (label, dim) decimal "
        "means (metadata-sized), then a dim equi-join on that bounded "
        "relation; dot/norms/dist2 exact integers."
    ),
    "q_ml_label_noise_knn": (
        "Label-noise audit: fused per-row signature fold, FIXED-SIZE "
        "probe panel broadcast into the candidate scan (panel x "
        "corpus, linear), per-probe rank windows — XOR+popcount only."
    ),
    "q_dedup_incremental": (
        "Ingestion gate: md5 equi-join for the exact tier; the "
        "existing band side pre-aggregates to one min-id row per "
        "bucket, so the near-tier probe join fan-out is linear in "
        "incoming band rows."
    ),
    "q_sample_balanced": (
        "Balanced downsample: salted hash-rank window per language "
        "partition + broadcast 1-row min count; exact-k per group."
    ),
    "q_emb_pq_adc": (
        "PQ: codebook (8x16) and per-probe LUTs broadcast; encoding "
        "is a per-(vec, subspace) argmin window after a broadcast "
        "join; the ADC scan is one equi-join on (subspace, code) "
        "feeding a combinable (probe, vec) sum — raw vectors never "
        "rejoin after encoding."
    ),
    "q_behavior_pathing": (
        "Two lags ride ONE user-partitioned window (single shuffle); "
        "the path agg's key space is |event_types|^3 and the top-10 "
        "is TakeOrderedAndProject."
    ),
    "q_ts_rolling_median": (
        "Events collapse to the calendar grain in one hash agg; the "
        "exact-percentile window runs per event type over the daily "
        "relation with a 7-row frame — never a raw-event sort."
    ),
    "q_ml_als_round": (
        "The ALS half-round pair IS two natural-key shuffles: a "
        "user-keyed decimal-moment agg (user solve) and an item-keyed "
        "re-solve agg after the user-factor equi-join; no driver "
        "state, no iteration collect."
    ),
    "q_ml_knn_classify": (
        "Fixed 1/97 probe panel broadcast into one corpus signature "
        "scan (panel x corpus, linear); vote/argmax/accuracy stages "
        "run on panel-sized relations."
    ),
    "q_text_bpe_merge": (
        "Distinct-word collapse with multiplicity first; argmax pair "
        "broadcasts; the fuse is ONE string replace per DISTINCT "
        "word, counts are multiplicity-weighted sums, and both pair "
        "aggs shuffle constant-size key spaces."
    ),
    "q_sketch_kmv": (
        "Distinct (set, hash) agg then per-set top-64 rank window "
        "(the label-partitioned top-k posture); everything after is "
        "K rows per set. The kept hash set is engine-identical, so "
        "the sketch itself is hash-checked."
    ),
    "q_text_jsd_pairwise": (
        "One token explode + (source, word) agg; the ONLY join is "
        "the vocabulary-keyed intersection pair join (<= |sources|^2 "
        "rows per word) — private-word mass is recovered from totals, "
        "so no word-level outer join is ever materialized."
    ),
    "q_graph_bfs": (
        "Three frontier expansions as equi-joins against the "
        "memoized symmetric edge snapshot + anti joins against the "
        "visited set, localCheckpoint per round — snapshot-sized "
        "work, O(rounds) jobs."
    ),
    "q_ml_ndcg": (
        "Panel-broadcast Hamming scoring (linear in corpus), "
        "per-probe rank windows, a 10-row broadcast gains join; "
        "DCG/IDCG/NDCG are integer sums and divisions on panel-sized "
        "relations."
    ),
    "q_ts_stl": (
        "One corpus hash agg to the calendar grain; centered 7-day "
        "window, per-dow seasonal agg, and the broadcast-back join "
        "all run on calendar-bounded relations; decimal-quantized "
        "window terms, micro-integer components."
    ),
    "q_behavior_markov": (
        "One user-partitioned lead() window is the only corpus "
        "shuffle; the transition matrix, row sums, and all three "
        "power-iteration steps are |event_types|-bounded broadcasts "
        "with decimal-quantized terms."
    ),
    "q_ml_pinball": (
        "One daily collapse; train means, the 7-day holdout, and the "
        "21 loss cells are calendar-bounded (the 1-row bounds agg "
        "BNLJ-crosses in, the q_basket_lift shape)."
    ),
    "q_graph_clustcoeff": (
        "Triangle explode + two bounded aggs + one left join on the "
        "memoized snapshot-sized node relations; cc is integer ppm."
    ),
    "q_ml_cv_stability": (
        "ONE lineitem scan fills all five folds' decimal moments "
        "(fold = portable hash as a GROUP key); fits and the spread "
        "window run on the 5-row relation."
    ),
    "q_emb_pca_topk": (
        "Shares the power_fit Gram/iterate stages with "
        "q_emb_pca_power; one combinable integer projection agg + "
        "TakeOrderedAndProject — no new corpus shuffle beyond the "
        "fit's own."
    ),
    "q_ts_changepoint": (
        "One corpus collapse to exact daily micro ints; mean/dev/"
        "cusum/argmax and the pre/post level means all run on the "
        "calendar-bounded relation."
    ),
    "q_feat_woe": (
        "One combinable label-count agg, a broadcast 1-row totals "
        "join, identical-operand ln chains floored to micro/nano "
        "ints."
    ),
    "q_graph_jaccard_nbrs": (
        "Wedge equi-join anchored on the memoized edge set (never "
        "node x node), degree agg, ppm ratio — snapshot-sized "
        "relations throughout."
    ),
    "q_ts_hurst": (
        "One corpus collapse to daily micro ints; block slicing by "
        "row-number div, integer within-block cusums/ranges, "
        "two-point log-log slope on the 3-row per-m relation."
    ),
    "q_behavior_absorbing": (
        "One lead() window is the only corpus shuffle; the "
        "restricted transition matrix and every unrolled absorption "
        "iterate are grid-sized broadcasts."
    ),
    "q_text_simpson": (
        "One token explode into a (source, word) combinable agg, "
        "then a per-source collapse — integers end to end."
    ),
    "q_join_range_bucket": (
        "Bands explode to overlapped fixed-width buckets; rows "
        "compute one bucket key; the join is a broadcast EQUI-join + "
        "residual filter — shuffle-partitionable at any band count, "
        "unlike the BETWEEN nested-loop the oracle runs."
    ),
    "q_text_minhash_containment": (
        "Shared rare-gram postings feed the exact pair join and a "
        "per-DISTINCT-gram 16-hash array joined back on g (one "
        "exchange-reused shuffle) into a 16-column per-doc min agg; "
        "eq_slots is a codegen 16-term comparison after two key "
        "joins on the bounded candidate set."
    ),
    "q_agg_approx_percentile": (
        "One (flag, cents) combinable agg shrinks the stream "
        "map-side; quantile windows and the GK audit join run on the "
        "bounded distinct-value relation, never the data."
    ),
    "q_ml_spearman": (
        "One corpus collapse to daily micro ints; ranks, the "
        "day-keyed pair join, and the closing division all run on "
        "calendar-bounded relations."
    ),
    "q_ml_kendall": (
        "One corpus collapse; day-keyed pairing then the C(days,2) "
        "concordance join — calendar-bounded integer work, never "
        "corpus-bounded."
    ),
    "q_graph_assortativity": (
        "Degree agg + one edge join on the memoized snapshot; three "
        "integer stub sums collapse to one row before the closing "
        "division."
    ),
    "q_behavior_gaps": (
        "One user-partitioned lag window (the only corpus shuffle); "
        "the histogram is a combinable (type, bit-length bucket) agg "
        "over ~40 buckets."
    ),
    "q_sample_reservoir": (
        "k-min portable hash per group: WindowGroupLimit pushes the "
        "rank filter into the per-group sort, so no group fully "
        "sorts; mergeable KMV algebra at any scale."
    ),
    "q_dq_reconcile": (
        "One combinable lineitem rollup agg + one fact-spine left "
        "join + a 4-row mismatch histogram; exact integer cents both "
        "sides."
    ),
    "q_source_binaryfile": (
        "|sources|-bounded content build (one collect_list agg), "
        "executor-side file writes, then a real binaryFile format "
        "scan hashed per file."
    ),
    "q_graph_modularity": (
        "Memoized component snapshot + LSH edge set; integer "
        "edge/degree sums per cluster, decimal-quantized term sum, "
        "one 1-row edge total broadcast."
    ),
    "q_emb_whiten": (
        "One posexplode into a combinable per-dim moment agg, a "
        "64-row broadcast-back join for z-scores, and a second "
        "combinable checksum agg — two corpus passes."
    ),
    "q_win_gaps_islands": (
        "One distinct collapse to (user, day), one user window, two "
        "combinable aggs — per-user work is calendar-bounded."
    ),
    "q_sample_neyman": (
        "One combinable cent-moment agg per stratum, a 1-row totals "
        "broadcast, identical-operand sqrt/divide chains floored to "
        "integers."
    ),
    "q_emb_ann_recall_ivf": (
        "Memoized Lloyd fit supplies centroids + members; brute "
        "truth is a broadcast panel x one corpus pass; the IVF side "
        "joins 2 routed cells per probe to cell-partitioned members."
    ),
    "q_ml_mannwhitney": (
        "Corpus collapses to the price-domain value histogram with "
        "one combinable agg; the cumulative window and the closing "
        "1-row agg run over the histogram, never the rows."
    ),
    "q_ml_anova": (
        "Two stacked combinable aggs: corpus -> 5 group-moment rows "
        "-> 1 totals row; per-group terms decimal-quantized before "
        "the cross-group sum. No window, no join."
    ),
    "q_ts_pacf": (
        "Corpus -> calendar-bounded daily grain first; the 3-lag "
        "self-join and Durbin-Levinson closing select are days-sized."
    ),
    "q_sketch_theta": (
        "Two distinct collapses, top-K sketches via TakeOrdered "
        "(distributed, no global window), K-row sketch joins; only "
        "the exact-eval side scans full segments."
    ),
    "q_sketch_ams": (
        "Token explode -> vocabulary agg, 9-estimator broadcast "
        "explode over the vocab (never the token stream), 9-row "
        "median."
    ),
    "q_fn_ip": (
        "One scan, integer-divide prefix compares, one combinable "
        "group agg — pure codegen."
    ),
    "q_geo_grid_join": (
        "Radius join as grid-cell equi-join: 9-offset broadcast "
        "explode, one shuffled equi-join on (cx, cy), exact integer "
        "residual predicate, combinable band histogram — candidates "
        "are density-bounded, never all-pairs."
    ),
    "q_dq_skew": (
        "Key-count agg -> count-of-counts collapse (bounded by max "
        "per-key multiplicity) -> tied-rank Gini over that tiny "
        "relation; top-10 via TakeOrdered."
    ),
    "q_graph_label_prop": (
        "3 unrolled Pregel supersteps over the memoized pair "
        "snapshot: each round one equi-join + one combinable min-agg "
        "(O(E) per superstep), no recursion."
    ),
    "q_ml_logrank": (
        "One corpus-scale per-user collapse; hour grid, risk-set "
        "suffix windows, and E/V term sums all run on the 49x2-row "
        "horizon-bounded relation."
    ),
    "q_ml_mcnemar": "One scan, one combinable agg, exact integer chi2.",
    "q_ml_kappa": (
        "One scan, one combinable agg, one exact integer ppm division."
    ),
    "q_ml_bootstrap_ci": (
        "One 32x replicate explode into a combinable (b)-keyed agg — "
        "a single corpus-scale shuffle emitting 32 rows; the rank "
        "pick runs on the replicate relation."
    ),
    "q_join_asof_tolerance": (
        "The single-shuffle asof union+window operator plus one "
        "post-predicate — tolerance adds zero joins."
    ),
    "q_layout_file_skipping": (
        "One scan feeds both layouts' zone maps (combinable min/max "
        "aggs); the 4-predicate grid broadcasts over the "
        "file-count-sized zone relation."
    ),
    "q_source_json_corrupt": (
        "Bounded slice write + one PERMISSIVE JSON scan; corrupt "
        "channel and good rows aggregate combinably."
    ),
    "q_ml_silhouette": (
        "One vecs x 4-centroid broadcast rescore (the fits._km_assign "
        "shape), per-point rank over 4 rows, one combinable "
        "per-cluster agg — O(n·k), never O(n²) pairwise."
    ),
    "q_ml_davies_bouldin": (
        "One combinable scatter agg over the memoized assignments; "
        "separations and ratios live on k²-sized relations."
    ),
    "q_ml_kcenter_init": (
        "3 unrolled farthest-point rounds: each a broadcast-chosen "
        "scan + 1-row argmax join; no global sort, no window."
    ),
    "q_dq_crossfield": (
        "One fact-spine equi-join (lineitem x orders), combinable "
        "violation counters, exact ppm shares."
    ),
    "q_ml_friedman": (
        "Corpus collapses to the (day, type) grid once; ranks are "
        "per-day windows over k=5 rows; everything downstream is k- "
        "or 1-row-sized."
    ),
    "q_behavior_uplift": (
        "One per-user collapse, one 1-row arm agg, identical double "
        "z chain."
    ),
    "q_ts_lttb": (
        "Corpus -> calendar-bounded daily grain; bucket-stat joins "
        "and the pick window run on bucket-count-sized relations."
    ),
    "q_ml_cluster_purity": (
        "One label join over the memoized assignments, one "
        "contingency agg, one cluster-partitioned argmax over "
        "|labels| rows."
    ),
    "q_ml_rand_index": (
        "One contingency agg over the memoized assignments; pair "
        "combinatorics run on k x |labels| cells."
    ),
    "q_graph_adamic_adar": (
        "ONE shuffle on the order key collapses baskets to sorted "
        "arrays; all C(nb,2) pairs generate map-side from the "
        "size-capped array; pair agg + TakeOrdered top-20 — no "
        "second join, never part x part."
    ),
    "q_ts_bollinger": (
        "One combinable daily collapse, one type-partitioned rows "
        "window over the calendar grain, one closing agg."
    ),
    "q_pii_tokenize": (
        "One token projection, distinct-count audits, two "
        "fact-spine joins proving join-cardinality preservation."
    ),
    "q_join_pit_scd2": (
        "The single-shuffle asof union+window operator attaches the "
        "valid dimension version; one closing 1-row agg."
    ),
    "q_dq_table_checksum": (
        "One combinable XOR/min/max agg per table over codegen'd "
        "canonical-row hashes; three scans, zero joins."
    ),
    "q_ts_esd": (
        "Corpus -> calendar-bounded daily grain once; each round one "
        "1-row moment agg + one TakeOrdered argmax over that grain."
    ),
    "q_ml_nmi": (
        "One contingency agg over the memoized fit; entropy sums on "
        "k x |labels| cells."
    ),
    "q_ts_granger": (
        "One corpus collapse to the daily grain, a lag-1 calendar "
        "self-join, one 10-moment agg, pure Cramer expression math."
    ),
    "q_ml_tost": (
        "One combinable group-moment agg, a 2-row pivot, identical "
        "Welch chains."
    ),
    "q_source_glob_tree": (
        "Bounded partitioned-tree write; partition-discovery read "
        "aggregates per lang, recursive glob read counts raw lines."
    ),
    "q_ml_kruskal": (
        "Corpus -> calendar-bounded daily grain; ranks, group sums, "
        "and the H chain all run on that grain."
    ),
    "q_behavior_powerlaw": (
        "One per-user collapse, one tail agg with decimal-quantized "
        "log terms."
    ),
    "q_dq_double_charge": (
        "Selective (custkey, cents) self-equi-join + day residual; "
        "candidate volume is key-multiplicity-bounded, never "
        "all-pairs."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # the checkout root goes on the driver's sys.path and, before the
    # session starts, on PYTHONPATH, so Python workers import the package
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as e
    from spark_sklearn_spark.session import createLocalSparkSession

    spark = createLocalSparkSession("plans", 8)
    qs = e.queries()
    out = [
        "# PLANS — physical plans of the headline operators",
        "",
        f"Generated from `df.explain('formatted')` at {sf_dir} (plans are",
        "shape-identical at larger sf; AQE may re-plan exchanges at",
        "runtime). Regenerate with `python tools/dump_plans.py`.",
        "",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        out += [f"## {name}", "", note, "", "```", tree.rstrip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(NOTES)} plans)")


if __name__ == "__main__":
    main()
