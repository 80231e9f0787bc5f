"""Declared ML / statistics query invariants (q_ml_* / q_feat_*):
test statistics replayed in numpy or from their returned moments,
metric bounds, and cross-key consistency between queries that share a
fit or a classifier pair.
"""

from __future__ import annotations

import math

import __spark_entry__ as entry
from conftest import _rows


def test_lof_invariants(spark, sf_dir):
    """LOF at sf0.001: panel membership, kd2 is the k-th smallest
    pair distance (numpy replay on the quantized vectors), and a
    point inside a uniform-density neighborhood scores close to 1e6
    ppm (textbook LOF ≈ 1)."""
    import numpy as np
    import __spark_entry__ as entry

    from spark_sklearn_spark.queries.pipeline30 import (
        LOF_K,
        LOF_PANEL_MOD,
        LOF_Q,
    )
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_ml_lof"](spark, sf_dir).collect()
    assert rows
    emb = {
        r.vec_id: np.floor(
            np.asarray(r.embedding, dtype="float64") * LOF_Q
        ).astype("int64")
        for r in load(spark, sf_dir, "embeddings")
        .filter(f"vec_id % {LOF_PANEL_MOD} = 0")
        .collect()
    }
    assert {r.vec_id for r in rows} == set(emb)
    for r in rows:
        d2 = sorted(
            int(((emb[r.vec_id] - q) ** 2).sum())
            for o, q in emb.items()
            if o != r.vec_id
        )
        assert r.kd2 == d2[LOF_K - 1], r
        assert r.lof_ppm > 0
        assert r.s_reach >= sum(d2[:LOF_K])  # reach-dists >= raw dists


def test_mutual_info_nonnegative_total(spark, sf_dir):
    """MI at sf0.001: per-priority contributions sum to a
    non-negative total (MI >= 0 up to the per-part floor error of at
    most 1 micro-nat each), and the n_x margins cover every order."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_feat_mutual_info"](spark, sf_dir).collect()
    assert rows
    total_orders = load(spark, sf_dir, "orders").count()
    assert sum(r.n_x for r in rows) == total_orders
    # each part floors at most 1 micro-nat low
    assert sum(r.mi_part_micro for r in rows) >= -len(rows)


def test_permutation_test_invariants(spark, sf_dir):
    """16 reps; each rep's arms partition the F+O orders; the
    observed F-vs-O gap is genuine in the fixture so random
    reassignment should rarely exceed it — but assert only structure
    (exceeds ∈ {0,1}) plus the arm-count partition, not luck."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_ml_permutation_test"](spark, sf_dir).collect()
    assert [r.rep for r in rows] == list(range(1, 17))
    n_fo = (
        load(spark, sf_dir, "orders")
        .filter("o_orderstatus IN ('F', 'O')")
        .count()
    )
    for r in rows:
        assert r.n_a + r.n_b == n_fo
        assert r.exceeds in (0, 1)
        assert r.n_a > 0 and r.n_b > 0


def test_sprt_crossing_consistency(spark, sf_dir):
    """SPRT invariants: 30 daily steps; a non-continue decision must
    name a day inside the horizon, a continue decision must carry
    decision_day 0 and a final LLR strictly inside (ln B, ln A)
    micro."""
    import math

    from spark_sklearn_spark.queries.pipeline31 import (
        _SPRT_ALPHA,
        _SPRT_BETA,
    )

    r = entry.queries()["q_ml_sprt"](spark, sf_dir).collect()[0]
    up = math.floor(
        math.log((1.0 - _SPRT_BETA) / _SPRT_ALPHA) * 1e6
    )
    lo = math.ceil(math.log(_SPRT_BETA / (1.0 - _SPRT_ALPHA)) * 1e6)
    assert r.n_days == 30
    assert r.decision in ("accept_h0", "accept_h1", "continue")
    if r.decision == "continue":
        assert r.decision_day == 0
        assert lo < r.final_llr_micro < up
    else:
        assert 1 <= r.decision_day <= r.n_days


def test_psi_terms_are_nonnegative(spark, sf_dir):
    """Every PSI term (p_a − p_e)·ln(p_a/p_e) is pointwise ≥ 0 (same
    sign factors), empty-side buckets contribute exactly 0, and the
    10-bucket price grid is fully present with mass on both sides in
    total."""
    rows = entry.queries()["q_ml_psi"](spark, sf_dir).collect()
    assert [r.bucket for r in rows] == sorted(r.bucket for r in rows)
    assert sum(r.n_expected for r in rows) > 0
    assert sum(r.n_actual for r in rows) > 0
    for r in rows:
        assert r.psi_term_micro >= 0
        if r.n_expected == 0 or r.n_actual == 0:
            assert r.psi_term_micro == 0
        assert r.n_expected + r.n_actual > 0


def test_cramers_v_bounds(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ml_cramers_v")
    assert r.chi2_micro >= 0
    assert 0 <= r.v_ppm <= 1_000_000
    assert r.n_rows >= 1 and r.n_cols >= 1
    # V = sqrt(chi2 / (n·(min−1))) replayed on the returned BIGINTs
    v = math.sqrt(
        (r.chi2_micro / 1000000)
        / (float(r.n) * (min(r.n_rows, r.n_cols) - 1))
    )
    assert r.v_ppm == math.floor(v * 1000000)


def test_brier_decomposition_identity(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ml_brier_decomp")
    assert r.reliability_q9 >= 0
    assert r.resolution_q9 >= 0
    # uncertainty = ō(1−ō) ≤ 1/4
    assert 0 <= r.uncertainty_q9 <= 250_000_000
    # Murphy identity holds up to the independent floors (±2 ulp-slop)
    assert (
        abs(
            r.brier_q9
            - (r.reliability_q9 - r.resolution_q9 + r.uncertainty_q9)
        )
        <= 2
    )
    # a proper binned Brier score lives in [0, 1]
    assert 0 <= r.brier_q9 <= 1_000_000_000


def test_theil_u_bounds(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ml_theil_u")
    # 0 ≤ I ≤ min(H(X), H(Y)) ⇒ both U in [0, 1]
    assert 0 <= r.mi_micro + 1  # floor slop on a tiny positive I
    assert -1 <= r.u_type_given_dow_ppm <= 1_000_000
    assert -1 <= r.u_dow_given_type_ppm <= 1_000_000
    assert r.mi_micro <= min(r.h_type_micro, r.h_dow_micro) + 1


def test_mcc_consistency(spark, sf_dir):
    """MCC and its companions replay exactly from the returned cells,
    and MCC stays within the J/markedness geometric-mean envelope."""
    [r] = _rows(spark, sf_dir, "q_ml_mcc")
    tp, fp, fn, tn = r.tp, r.fp, r.fn, r.tn
    mcc = (tp * tn - fp * fn) / math.sqrt(
        float(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert abs(r.mcc_micro - math.floor(mcc * 1000000)) <= 1
    assert -1_000_000 <= r.mcc_micro <= 1_000_000
    assert -1_000_000 <= r.youden_j_micro <= 1_000_000
    # MCC² = J · markedness (both signs shared) up to floor slop
    lhs = (r.mcc_micro / 1e6) ** 2
    rhs = (r.youden_j_micro / 1e6) * (r.markedness_micro / 1e6)
    assert abs(lhs - rhs) < 5e-5


def test_ece_bounds(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ml_ece")
    assert 1 <= r.n_bins <= 10
    # ECE is a weighted MEAN of gaps, so ECE ≤ MCE (up to floor slop)
    assert 0 <= r.ece_q6 <= r.mce_q6 + 1
    assert r.mce_q6 <= 1_000_000


def test_mrr_dominates_like_a_rank_metric(spark, sf_dir):
    rows = _rows(spark, sf_dir, "q_ml_mrr")
    assert rows
    for r in rows:
        assert 0 <= r.mean_mrr_ppm <= 1_000_000
        assert 0 <= r.mean_p10_ppm <= 1_000_000
        # recall divides by k_eff ≤ 10, so recall ≥ precision@10
        assert r.mean_recall10_ppm >= r.mean_p10_ppm


def test_odds_ratio_identity(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ml_odds_ratio")
    orr = (r.a * r.d) / (r.b * r.c)
    assert abs(r.odds_ratio_micro - math.floor(orr * 1000000)) <= 1
    # the Wald CI brackets the point estimate
    assert r.or_ci_lo_micro <= r.odds_ratio_micro <= r.or_ci_hi_micro


def test_fdr_bh_is_a_valid_step_up(spark, sf_dir):
    """Ranks are a 1..m permutation ordered by ascending p, the
    rejection set is exactly the ranks ≤ k* prefix, the adjusted p
    is ≥ raw p and non-increasing from the bottom rank up (the
    step-up running min), and chi2/p replay within floor slop."""
    rows = sorted(_rows(spark, sf_dir, "q_ml_fdr_bh"), key=lambda r: r.rank_p)
    m = len(rows)
    assert [r.rank_p for r in rows] == list(range(1, m + 1))
    ps = [r.p_q9 for r in rows]
    assert ps == sorted(ps)
    rej = [r.rejected for r in rows]
    assert rej == sorted(rej, reverse=True)  # a prefix of the ranks
    for r in rows:
        assert 0 <= r.p_q9 <= 1_000_000_000
        assert r.p_adj_q9 >= r.p_q9  # BH never shrinks a p-value
        assert r.p_adj_q9 <= 1_000_000_000
        assert r.chi2_micro >= 0
        # p = exp(-chi2/2) replayed from the floored chi2 (1 ulp of
        # slop for the floor on chi2_micro feeding exp)
        p_replay = math.exp(-(r.chi2_micro / 1e6) / 2.0)
        assert abs(r.p_q9 / 1e9 - p_replay) < 1e-6
    adj = [r.p_adj_q9 for r in rows]
    assert adj == sorted(adj)  # monotone along ascending raw p


def test_fdr_bh_counts_cover_corpus(spark, sf_dir):
    from spark_sklearn_spark.sources.io import load

    rows = _rows(spark, sf_dir, "q_ml_fdr_bh")
    total = load(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total


def test_hosmer_lemeshow_consistency_with_ece(spark, sf_dir):
    """Same fit, same decile bins: HL's n and bin count must match
    q_ml_ece's, HL is nonnegative, and df = bins − 2."""
    hl = entry.queries()["q_ml_hosmer_lemeshow"](spark, sf_dir).collect()[0]
    ece = entry.queries()["q_ml_ece"](spark, sf_dir).collect()[0]
    assert hl.n == ece.n
    assert hl.n_bins == ece.n_bins
    assert hl.df == hl.n_bins - 2
    assert hl.hl_q6 >= 0


def _tree_tie_events():
    """8 events where every tree tie-break decides the result. Per
    bucket h in 0..3: two events with floor(value) = hour = h and
    day-of-month h + 1, purchases at h = 0 and h = 3. So both features
    carry the same histogram (their best splits tie, and the depth-2
    root falls to the feature name), the mirrored labels make
    thresholds 1 and 3 tie on gini_q9, and the GBM gains tie across
    features and between thresholds 1 and 3."""
    import pandas as pd

    rows = [
        (2 * h + i, h, "purchase" if h in (0, 3) else "view")
        for h in range(4)
        for i in range(2)
    ]
    return pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [pd.Timestamp(2024, 1, h + 1, h) for _, h, _ in rows],
            "user_id": [r[0] % 3 for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [h + 0.25 for _, h, _ in rows],
            "props": ["{}"] * len(rows),
        }
    ).astype({"ts": "datetime64[us]"})


def test_tree_split_search_sides_agree(spark, sf_dir, duck, tmp_path):
    """The three keys on fits.py's histogram split search match their
    oracles at sf_dir and on _tree_tie_events, where a tie-break
    reversed on one side changes the rows."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check import check_query

    keys = ("q_ml_tree_stump", "q_ml_tree_depth2", "q_ml_gbm_round")
    qs, oracles = entry.queries(), entry.oracle_sql()

    def check(d, con):
        for k in keys:
            ok, msg = check_query(k, qs[k], oracles[k], spark, con, d)
            assert ok, (k, d, msg)

    check(sf_dir, duck)

    _tree_tie_events().to_parquet(tmp_path / "events.parquet")
    edge = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{edge}/events.parquet')"
    )
    check(edge, con)
    stump = {(r.feature, r.threshold) for r in qs[keys[0]](spark, edge).collect()}
    assert stump == {("hour", 1), ("value_floor", 1)}
    tree = [(r.node, r.feature, r.threshold) for r in qs[keys[1]](spark, edge).collect()]
    assert tree == [("R", "hour", 3), ("root", "hour", 1)]
    gbm = [(r.feature, r.threshold) for r in qs[keys[2]](spark, edge).collect()]
    assert gbm == [("dom", 3), ("hour", 2), ("dom", 2), ("dom", 4), ("hour", 1)]
