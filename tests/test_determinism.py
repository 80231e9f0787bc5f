"""Cross-partitioning determinism: a declared query must produce the
SAME rows no matter how the data is partitioned, or its driver hash is
a coin flip. The decimal-sum policy, round-before-compare rule, and
explicit tie-breaks exist exactly for this — here we pin them by
running float-sensitive queries under two different shuffle-partition
settings and diffing the collected results exactly.

A one-off full-surface sweep (every declared query, 7 vs 29 shuffle
partitions, exact result diff at sf0.01) ran clean in round 5 — 148/148
invariant, zero errors. This suite keeps the fast float-sensitive
subset as the permanent regression guard.
"""

from __future__ import annotations

import pytest

from conftest import _rows

# Queries chosen for float-sensitivity: double sums (decimal policy),
# windowed frame sums, matmul-based similarity, LSH banding, ratio
# thresholds, and global ntile assignment.
SENSITIVE = [
    "q_agg_hash",
    "q_text_tfidf",
    "q_dedup_minhash",
    "q_sim_pairs_threshold",
    "q_ts_anomaly",
    "q_behavior_rfm",
    "q_win_ntile",
    "q_sample_temperature",
    "q_agg_moments",
    "q_ts_interpolate",
    "q_text_bm25",
    "q_corpus_health",
    # r6 additions: decimal-path sums (sessionize/entropy/corr), the
    # majority-vote bit agg (simhash), the Python-side decimal fit
    # (keyed scaler), and the chained-float EWMA
    "q_behavior_sessionize",
    "q_text_entropy",
    "q_profile_corr",
    "q_dedup_simhash",
    "q_ml_keyed_scale",
    "q_ts_ewma",
    # r7 additions: hash-bucketed sketches (merge-order-free by
    # construction — pin it), ES sampling keys (log of a hash
    # uniform), exact-moment OLS, decile edges, and the budget cumsum
    "q_sketch_countmin",
    "q_sketch_hll",
    "q_sample_weighted",
    "q_ml_linear_ols",
    "q_feat_quantile_bin",
    "q_mix_budget",
    "q_ts_outlier_mad",
]


@pytest.mark.parametrize("name", SENSITIVE)
def test_query_is_partitioning_invariant(spark, sf_dir, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = sorted(_rows(spark, sf_dir, name))
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        b = sorted(_rows(spark, sf_dir, name))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.catalog.clearCache()
    assert a == b, f"{name}: results differ across shuffle partitionings"
