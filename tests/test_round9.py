"""Query invariants, second group: time series, graph, ML-fit,
sketch, source and data-quality keys each checked against numpy, a
brute-force form of the same query, or an identity their output must
satisfy.
"""

from __future__ import annotations

import __spark_entry__ as entry


def test_stl_components_reassemble(spark, sf_dir):
    """remainder = rev − trend − seasonal within 2 micro (two floors)."""
    rows = entry.queries()["q_ts_stl"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        resid = (
            r.rev_micro - r.trend_micro - r.seasonal_micro
            - r.remainder_micro
        )
        assert 0 <= resid <= 3, r


def test_markov_iterates_are_distributions(spark, sf_dir):
    """Each power step stays a probability distribution: micro values
    sum to 1e6 within one floor per state."""
    rows = entry.queries()["q_behavior_markov"](spark, sf_dir).collect()
    k = len(rows)
    assert k >= 2
    for col in ("p1_micro", "p2_micro", "p3_micro"):
        s = sum(r[col] for r in rows)
        assert 1_000_000 - k <= s <= 1_000_000, (col, s)


def test_pinball_median_below_extremes(spark, sf_dir):
    """Pinball losses are nonnegative; q=0.5 loss is half the absolute
    error, so 2·L(0.5) >= max(L(0.1), L(0.9)) cannot be violated by
    construction — pin the nonnegativity + row count."""
    rows = {
        r.q_ppm: r
        for r in entry.queries()["q_ml_pinball"](spark, sf_dir).collect()
    }
    assert set(rows) == {100000, 500000, 900000}
    for r in rows.values():
        assert r.total_loss_micro >= 0
        assert r.n_days == rows[500000].n_days


def test_clustcoeff_in_unit_range(spark, sf_dir):
    rows = entry.queries()["q_graph_clustcoeff"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.mean_cc_ppm <= 1_000_000
        assert 0 <= r.n_cliquelike <= r.n_nodes
        assert r.degree >= 2


def test_cv_stability_spread_consistent(spark, sf_dir):
    """The reported spread equals max−min of the fold slopes, and all
    five folds are present."""
    rows = entry.queries()["q_ml_cv_stability"](spark, sf_dir).collect()
    assert {r.fold for r in rows} == set(range(5))
    slopes = [r.slope_micro for r in rows]
    spread = max(slopes) - min(slopes)
    for r in rows:
        assert r.slope_spread_micro == spread


def test_pca_topk_scores_align_with_iterate(spark, sf_dir):
    """Recompute the projection of the top-1 vec from the published
    iterate and centered values — must equal the reported proj."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.queries.pca_power import power_fit

    top = entry.queries()["q_emb_pca_topk"](spark, sf_dir).collect()
    assert len(top) == 20
    assert top[0].rnk == 1
    projs = [abs(r.proj) for r in top]
    assert projs == sorted(projs, reverse=True)
    cent, _, iterates = power_fit(spark, sf_dir)
    want = (
        cent.filter(F.col("vec_id") == top[0].vec_id)
        .join(F.broadcast(iterates[-1]), "i")
        .agg(F.sum(F.col("c") * F.col("v")).alias("p"))
        .collect()[0]
        .p
    )
    assert want == top[0].proj


def test_changepoint_cusum_envelope(spark, sf_dir):
    """|cusum at cp| is the series max by construction; the last
    cusum value is the total deviation = s − n·(s div n) ∈ [0, n)."""
    rows = entry.queries()["q_ts_changepoint"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_days > 0
        assert abs(r.cusum_at_cp) >= 0
        assert r.pre_mean_micro != 0 or r.post_mean_micro != 0


def test_woe_iv_signs_consistent(spark, sf_dir):
    """IV terms are nonnegative iff WOE and the share difference agree
    in sign — which they do by construction: iv = (dp − dn)·ln(dp/dn)
    with dp,dn > 0 is always >= 0."""
    rows = entry.queries()["q_feat_woe"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.iv_term_nano >= -1, r  # −1 absorbs the floor at exact 0


def test_jaccard_nbrs_bounds(spark, sf_dir):
    """Neighborhood Jaccard in [0, 1e6]; common neighbors bounded by
    min degree; degrees >= 1 on both endpoints of a real edge."""
    rows = entry.queries()["q_graph_jaccard_nbrs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.nbr_jacc_ppm <= 1_000_000
        assert r.n_common <= min(r.deg_a, r.deg_b)
        assert r.deg_a >= 1 and r.deg_b >= 1


def test_hurst_output_shape(spark, sf_dir):
    """All three block sizes present (30-day fixture), ranges positive,
    and the two-point Hurst estimate is shared across rows and sane
    (0 < H < 1.5e6 micro — random-walkish data can exceed 1.0 slightly
    through the truncating means)."""
    rows = entry.queries()["q_ts_hurst"](spark, sf_dir).collect()
    assert [r.m for r in rows] == [3, 6, 12]
    assert all(r.mean_r_micro > 0 for r in rows)
    hs = {r.hurst_micro for r in rows}
    assert len(hs) == 1
    h = hs.pop()
    assert 0 < h < 1_500_000


def test_absorbing_probs_monotone(spark, sf_dir):
    """Absorption probabilities are monotone in k and inside [0, 1e6];
    'purchase' itself never appears as a start state."""
    rows = entry.queries()["q_behavior_absorbing"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.event_type != "purchase"
        assert 0 <= r.a1_micro <= r.a2_micro + 1 <= r.a3_micro + 2
        assert r.a3_micro <= 1_000_000


def test_simpson_matches_python(spark, sf_dir):
    """Recompute Simpson for one source in Python from raw tokens."""
    from pyspark.sql import functions as F
    from collections import Counter

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_text_simpson"](spark, sf_dir).collect()
    assert rows
    r0 = rows[0]
    texts = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source") == r0.source)
        .select("text")
        .collect()
    )
    c = Counter()
    for t in texts:
        c.update(t.text.split(" "))
    n = sum(c.values())
    rep = sum(v * (v - 1) for v in c.values())
    assert r0.n_tokens == n
    assert r0.n_types == len(c)
    assert r0.rep_pairs == rep
    import math

    assert r0.simpson_ppb == math.floor(rep / (n * (n - 1)) * 1e9)


def test_range_bucket_is_equi_join_and_complete(spark, sf_dir):
    """The bucketed band join must contain no BroadcastNestedLoopJoin
    over the orders side, and its per-band counts must total exactly
    the orders inside the banded range."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    df = entry.queries()["q_join_range_bucket"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan
    rows = df.collect()
    assert [r.band_id for r in rows] == [1, 2, 3, 4, 5, 6, 7]
    total = sum(r.n_orders for r in rows)
    want = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_totalprice") >= 0) & (F.col("o_totalprice") < 600_000))
        .count()
    )
    assert total == want


def test_minhash_containment_estimator_sane(spark, sf_dir):
    """Exact containment >= exact Jaccard always; the 16-perm estimate
    stays within 6/16 of exact Jaccard on the high-J candidate set
    (generous — planted dups sit at J >= 0.4 where minhash variance
    is sqrt(J(1-J)/16) ≈ 0.12)."""
    rows = entry.queries()["q_text_minhash_containment"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert r.cont_ab_ppm >= r.exact_j_ppm
        assert abs(r.est_j_ppm - r.exact_j_ppm) <= 375_000, r


def test_approx_percentile_audit_all_green(spark, sf_dir):
    """Every gk_ok column is 1 — Spark's GK sketch honors its rank
    guarantee against the exact value histogram."""
    rows = entry.queries()["q_agg_approx_percentile"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.gk_ok_50 == 1 and r.gk_ok_90 == 1 and r.gk_ok_99 == 1


def test_spearman_kendall_agree_on_direction(spark, sf_dir):
    """Both rank correlations must agree in SIGN for every pair where
    |tau| is decisive (>0.1) — a sign flip between the two would mean
    one implementation is wrong."""
    rho = {
        (r.type_a, r.type_b): r.rho_micro
        for r in entry.queries()["q_ml_spearman"](spark, sf_dir).collect()
    }
    tau = {
        (r.type_a, r.type_b): r.tau_micro
        for r in entry.queries()["q_ml_kendall"](spark, sf_dir).collect()
    }
    assert set(rho) == set(tau)
    for k, t in tau.items():
        if abs(t) > 100_000:
            assert (t > 0) == (rho[k] > 0), (k, t, rho[k])
        assert -1_000_001 <= t <= 1_000_000
        assert -1_000_001 <= rho[k] <= 1_000_000


def test_kendall_counts_close(spark, sf_dir):
    """concordant + discordant <= n_pairs (ties take the rest)."""
    for r in entry.queries()["q_ml_kendall"](spark, sf_dir).collect():
        assert r.concordant + r.discordant <= r.n_pairs


def test_assortativity_in_range(spark, sf_dir):
    row = entry.queries()["q_graph_assortativity"](spark, sf_dir).collect()[0]
    assert -1_000_001 <= row.assort_micro <= 1_000_000
    assert row.m == 2 * (row.s_h and row.m // 2 or 0) or row.m > 0


def test_gaps_cover_all_consecutive_events(spark, sf_dir):
    """Total histogram mass = (#events − #users with ≥1 event): every
    consecutive pair contributes exactly one gap."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_behavior_gaps"](spark, sf_dir).collect()
    total = sum(r.n_gaps for r in rows)
    ev = load(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total == n_events - n_users


def test_reservoir_is_uniform_hash_sample(spark, sf_dir):
    """Exactly k rows per source; each row's h really is among the k
    smallest h56 values of that source (recomputed)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spark_sklearn_spark.queries._helpers import h56
    from spark_sklearn_spark.queries.pipeline16 import _RSV_K
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_sample_reservoir"](spark, sf_dir).collect()
    per = defaultdict(list)
    for r in rows:
        per[r.source].append(r)
    want = {
        r.source: r.hs
        for r in load(spark, sf_dir, "documents")
        .select(
            "source",
            h56("concat('rsv:', cast(doc_id as string))").alias("h"),
        )
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
        .collect()
    }
    for src, picked in per.items():
        assert len(picked) == _RSV_K
        assert sorted(p.h for p in picked) == want[src][:_RSV_K]


def test_reconcile_accounts_for_every_order(spark, sf_dir):
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_dq_reconcile"](spark, sf_dir).collect()
    total = sum(r.n_orders for r in rows)
    assert total == load(spark, sf_dir, "orders").count()


def test_tpch_q1_consistent_with_flagship(spark, sf_dir):
    """q_tpch_q1's shared columns must equal q_agg_hash's (same
    filter, same groups, same decimal policy)."""
    q1 = {
        (r.l_returnflag, r.l_linestatus): (r.sum_qty, r.count_order)
        for r in entry.queries()["q_tpch_q1"](spark, sf_dir).collect()
    }
    fl = {
        (r.l_returnflag, r.l_linestatus): (r.sum_qty, r.count_order)
        for r in entry.queries()["q_agg_hash"](spark, sf_dir).collect()
    }
    assert q1 == fl


def test_binaryfile_roundtrip_bytes(spark, sf_dir):
    """Each emitted file's byte count equals the sum of its docs' text
    bytes plus the newline separators."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    got = {
        r.source: r.n_bytes
        for r in entry.queries()["q_source_binaryfile"](spark, sf_dir).collect()
    }
    want = {
        r.source: r.nb + r.n - 1
        for r in load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.octet_length("text")).alias("nb"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want


def test_modularity_range_and_closure(spark, sf_dir):
    """Q in [-0.5, 1]; with exact components, every edge is intra, so
    Q = 1 − Σ(d_c/2m)² <= 1 − 1/n_clusters... just pin the range and
    that the cluster count matches the component snapshot."""
    from spark_sklearn_spark.queries.shingles import dup_components

    row = entry.queries()["q_graph_modularity"](spark, sf_dir).collect()[0]
    assert -500_001 <= row.modularity_micro <= 1_000_000
    n_clusters_with_mass = (
        dup_components(spark, sf_dir)
        .join(
            entry.queries()["q_dedup_minhash"](spark, sf_dir)
            .selectExpr("id_a AS doc_id")
            .unionAll(
                entry.queries()["q_dedup_minhash"](spark, sf_dir).selectExpr(
                    "id_b AS doc_id"
                )
            )
            .distinct(),
            "doc_id",
        )
        .select("cluster_id")
        .distinct()
        .count()
    )
    assert row.n_clusters == n_clusters_with_mass


def test_whiten_checksum_properties(spark, sf_dir):
    """Per-dim z-scores: zsum ≈ 0 (within n·1 milli of floor bias —
    floors bias negative, so zsum in [-n, 0]); zabs > 0; moments
    consistent (n equal across dims)."""
    rows = entry.queries()["q_emb_whiten"](spark, sf_dir).collect()
    assert len(rows) == 64
    ns = {r.n for r in rows}
    assert len(ns) == 1
    n = ns.pop()
    for r in rows:
        assert -n <= r.zsum_milli <= 0, r
        assert r.zabs_milli > 0


def test_gaps_islands_cover_all_user_days(spark, sf_dir):
    """Σ island_len · n_islands = distinct (user, day) pairs — every
    active day belongs to exactly one island."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_win_gaps_islands"](spark, sf_dir).collect()
    covered = sum(r.days_covered for r in rows)
    want = (
        load(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .count()
    )
    assert covered == want


def test_neyman_allocation_sums_to_budget(spark, sf_dir):
    """Floor allocation loses at most |strata| units of the budget and
    never exceeds it; weights sum to ~1e6 ppm."""
    from spark_sklearn_spark.queries.pipeline18 import _NEYMAN_BUDGET

    rows = entry.queries()["q_sample_neyman"](spark, sf_dir).collect()
    total = sum(r.neyman_n for r in rows)
    assert _NEYMAN_BUDGET - len(rows) <= total <= _NEYMAN_BUDGET
    wsum = sum(r.weight_ppm for r in rows)
    assert 1_000_000 - len(rows) <= wsum <= 1_000_000


def test_ivf_recall_reasonable(spark, sf_dir):
    """Every probe lands in some bucket; overall recall@5 over the
    panel is > 50% (nprobe=2 of 4 cells on clustered data)."""
    rows = entry.queries()["q_emb_ann_recall_ivf"](spark, sf_dir).collect()
    n_probes = sum(r.n_probes for r in rows)
    assert n_probes > 0
    hits = sum(r.n_hits_of_5 * r.n_probes for r in rows)
    assert hits * 2 > n_probes * 5  # recall > 0.5
    for r in rows:
        assert 0 <= r.n_hits_of_5 <= 5
        assert r.bucket_recall_ppm == r.n_hits_of_5 * 1_000_000 // 5


def test_mannwhitney_invariants(spark, sf_dir):
    """U2 within [0, 2·n1·n2]; AUC ppm consistent with U2; z sign
    agrees with which side of 0.5 the AUC sits on."""
    r = entry.queries()["q_ml_mannwhitney"](spark, sf_dir).collect()[0]
    assert 0 <= r.u2 <= 2 * r.n1 * r.n2
    assert r.auc_ppm == r.u2 * 1_000_000 // (2 * r.n1 * r.n2)
    if r.auc_ppm > 500_000:
        assert r.z_micro >= 0
    if r.auc_ppm < 499_000:
        assert r.z_micro < 0


def test_anova_invariants(spark, sf_dir):
    """5 priority groups; eta² in [0, 1e6); F positive."""
    r = entry.queries()["q_ml_anova"](spark, sf_dir).collect()[0]
    assert r.k == 5
    assert 0 <= r.eta2_ppm < 1_000_000
    assert r.f_micro >= 0


def test_pacf_lag1_matches_autocorr(spark, sf_dir):
    """rho1 must be q_ts_autocorr's acf(1) (same moment formula) to
    within quantization; pacf2 must satisfy Durbin-Levinson given the
    published rhos."""
    qs = entry.queries()
    r = qs["q_ts_pacf"](spark, sf_dir).collect()[0]
    acf = {
        row.k: row.acf_micro / 1e6
        for row in qs["q_ts_autocorr"](spark, sf_dir).collect()
    }
    assert abs(r.rho1_micro / 1e6 - acf[1]) < 3e-6
    r1, r2 = r.rho1_micro / 1e6, r.rho2_micro / 1e6
    want_p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    assert abs(r.pacf2_micro / 1e6 - want_p22) < 2e-5


def test_theta_sketch_estimates(spark, sf_dir):
    """Set identities exact; KMV estimates within 25% (K=256)."""
    r = entry.queries()["q_sketch_theta"](spark, sf_dir).collect()[0]
    assert r.exact_union == r.exact_a + r.exact_b - r.exact_inter
    assert r.exact_inter <= min(r.exact_a, r.exact_b)
    assert abs(r.est_union - r.exact_union) <= 0.25 * r.exact_union
    assert abs(r.est_inter - r.exact_inter) <= 0.25 * r.exact_union


def test_ams_sketch_estimates(spark, sf_dir):
    """F2 ≥ n_tokens²/n_types (Cauchy-Schwarz) and ≥ n_tokens; the
    9-estimator median lands within 60% of exact (AMS guarantees
    ~1/sqrt(9) relative error at constant factor)."""
    r = entry.queries()["q_sketch_ams"](spark, sf_dir).collect()[0]
    assert r.f2 >= r.n_tokens
    assert r.f2 * r.n_types >= r.n_tokens * r.n_tokens
    assert abs(r.f2_est - r.f2) <= 0.6 * r.f2
    assert r.err_ppm == abs(r.f2_est - r.f2) * 1_000_000 // r.f2


def test_ip_classification_partitions_customers(spark, sf_dir):
    """Every customer classified exactly once; addresses in range;
    dotted rebuild matches the integer min."""
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_fn_ip"](spark, sf_dir).collect()
    n_cust = load(spark, sf_dir, "customer").count()
    assert sum(r.n for r in rows) == n_cust
    for r in rows:
        assert 0 <= r.min_ip <= r.max_ip < 2**32
        octets = [int(x) for x in r.min_dotted.split(".")]
        assert len(octets) == 4
        got = (
            octets[0] * 16777216 + octets[1] * 65536
            + octets[2] * 256 + octets[3]
        )
        assert got == r.min_ip


def test_geo_grid_join_complete_vs_brute(spark, sf_dir, duck):
    """The grid join must find EXACTLY the brute-force all-pairs
    within R (cell size = R ⇒ any qualifying pair is in adjacent
    cells) — completeness of the rewrite, checked per band."""
    from spark_sklearn_spark.queries.pipeline19 import _GEO_R

    rows = entry.queries()["q_geo_grid_join"](spark, sf_dir).collect()
    got = {r.band: r.n_pairs for r in rows}
    from spark_sklearn_spark.queries._helpers import sql_h56

    lat = (
        sql_h56("'lat:' || CAST(c_custkey AS VARCHAR)")
        + " % 180000001 - 90000000"
    )
    lon = sql_h56("'lon:' || CAST(c_custkey AS VARCHAR)") + " % 360000000"
    brute = duck.execute(f"""
        WITH pts AS (
          SELECT c_custkey AS id, {lat} AS lat, {lon} AS lon FROM customer
        )
        SELECT (
            (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon)
          ) * 10 // ({_GEO_R}::BIGINT * {_GEO_R}) AS band,
          COUNT(*) AS n
        FROM pts a JOIN pts b ON a.id < b.id
        WHERE (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon)
              <= {_GEO_R}::BIGINT * {_GEO_R}
        GROUP BY band
    """).fetchall()
    want = {int(b): int(n) for b, n in brute}
    assert got == want


def test_skew_audit_invariants(spark, sf_dir):
    """Row/key counts tie to the source; shares ordered; Gini in
    [0, 1e6)."""
    from spark_sklearn_spark.sources.io import load

    r = entry.queries()["q_dq_skew"](spark, sf_dir).collect()[0]
    orders = load(spark, sf_dir, "orders")
    assert r.n_rows == orders.count()
    assert r.n_keys == orders.select("o_custkey").distinct().count()
    assert r.max_share_ppm <= r.top10_share_ppm <= 1_000_000
    assert 0 <= r.gini_ppm < 1_000_000


def test_label_prop_converges_to_components(spark, sf_dir):
    """n_labels is non-increasing over rounds; n_moved hits 0 only if
    labels stopped changing; the round-3 label count is bounded below
    by the exact component count."""
    from spark_sklearn_spark.queries.shingles import dup_components

    rows = entry.queries()["q_graph_label_prop"](spark, sf_dir).collect()
    labels = [r.n_labels for r in sorted(rows, key=lambda r: r.round)]
    assert labels == sorted(labels, reverse=True)
    n_comp = (
        dup_components(spark, sf_dir)
        .select("cluster_id")
        .distinct()
        .count()
    )
    assert labels[-1] >= n_comp


def test_logrank_against_survival_population(spark, sf_dir):
    """O1 ≤ total conversions within horizon; E1 within the total
    death mass; chi2 non-negative and consistent with (O1−E1)²/V."""
    r = entry.queries()["q_ml_logrank"](spark, sf_dir).collect()[0]
    assert r.o1 >= 0 and r.v_micro > 0
    assert r.chi2_micro >= 0
    o1, e1, v = r.o1, r.e1_micro / 1e6, r.v_micro / 1e6
    want = (o1 - e1) ** 2 / v
    assert abs(r.chi2_micro / 1e6 - want) < 0.02 * max(want, 1.0)


def test_mcnemar_kappa_consistent(spark, sf_dir):
    """The two keys share the classifier pair: discordant counts from
    mcnemar must be compatible with kappa's agreement count
    (agree = n − (A-only-right ∧ disagree) …): b+c ≤ n − agree is
    NOT generally true, so check the direct identity on a local
    recount instead."""
    from spark_sklearn_spark.sources.io import load
    from pyspark.sql import functions as F

    mc = entry.queries()["q_ml_mcnemar"](spark, sf_dir).collect()[0]
    ka = entry.queries()["q_ml_kappa"](spark, sf_dir).collect()[0]
    assert mc.n == ka.n
    docs = load(spark, sf_dir, "documents")
    clf = docs.selectExpr(
        "case when lang = 'en' then 1 else 0 end AS y",
        "case when text like '% the %' then 1 else 0 end AS a",
        "case when text like '% and %' or text like '% of %'"
        " then 1 else 0 end AS b",
    )
    row = clf.agg(
        F.sum(F.expr("case when a = y and b <> y then 1 else 0 end")).alias(
            "b_disc"
        ),
        F.sum(F.expr("case when a = b then 1 else 0 end")).alias("agree"),
    ).collect()[0]
    assert mc.b_disc == row.b_disc
    assert ka.agree == row.agree
    assert -1_000_000 <= ka.kappa_ppm <= 1_000_000


def test_bootstrap_ci_brackets_point(spark, sf_dir):
    """lo ≤ point ≤ hi (a mean-1 multiplier bootstrap is centered on
    the sample mean) and the interval is nondegenerate."""
    r = entry.queries()["q_ml_bootstrap_ci"](spark, sf_dir).collect()[0]
    assert r.lo_milli <= r.point_milli <= r.hi_milli
    assert r.lo_milli < r.hi_milli
    assert r.n > 0


def test_asof_tolerance_subset_of_matches(spark, sf_dir):
    """Tolerance matches are a subset of unconditional asof matches;
    gap mass is bounded by tolerance x matches."""
    from spark_sklearn_spark.queries.pipeline20 import _TOL_S

    r = entry.queries()["q_join_asof_tolerance"](spark, sf_dir).collect()[0]
    assert r.n_within_tol <= r.n_matched <= r.n_purchases
    assert 0 <= r.gap_minutes_sum <= r.n_within_tol * (_TOL_S // 60)


def test_file_skipping_date_layout_wins(spark, sf_dir):
    """Zone maps on date-clustered files must skip at least as well
    as key-clustered files for every date predicate — the audit's
    whole point; counts internally consistent."""
    rows = entry.queries()["q_layout_file_skipping"](spark, sf_dir).collect()
    by = {(r.layout, r.pred_id): r for r in rows}
    assert len(rows) == 8
    for pred in range(4):
        kd, kk = by[("by_date", pred)], by[("by_key", pred)]
        assert kd.skip_ppm >= kk.skip_ppm
        for r in (kd, kk):
            assert 0 <= r.files_skipped <= r.files_total
            assert r.skip_ppm == r.files_skipped * 1_000_000 // r.files_total


def test_json_corrupt_routes_exactly_three(spark, sf_dir):
    """All 3 injected bad lines land in _corrupt_record; good-row
    counts tie to the source slice."""
    from spark_sklearn_spark.sources.io import load
    from pyspark.sql import functions as F

    rows = entry.queries()["q_source_json_corrupt"](spark, sf_dir).collect()
    assert all(r.n_corrupt_total == 3 for r in rows)
    want = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .count()
    )
    assert sum(r.n_good for r in rows) == want


def test_silhouette_bounds_and_population(spark, sf_dir):
    """Simplified silhouette lies in [0, 1] (b >= a by argmin); the
    cluster populations cover every vector."""
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_ml_silhouette"](spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert sum(r.n for r in rows) == n_vecs
    for r in rows:
        assert 0 <= r.mean_sil_micro <= 1_000_000


def test_davies_bouldin_positive(spark, sf_dir):
    r = entry.queries()["q_ml_davies_bouldin"](spark, sf_dir).collect()[0]
    assert r.k == 4
    assert r.db_micro > 0


def test_kcenter_picks_distinct_and_radius_shrinks(spark, sf_dir):
    """4 distinct seeds; each successive pick's distance is
    non-increasing (greedy farthest-point invariant); the final
    coverage radius (pick 0's d2 column) is <= the last pick's d2."""
    rows = sorted(
        entry.queries()["q_ml_kcenter_init"](spark, sf_dir).collect(),
        key=lambda r: r.pick_order,
    )
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == 4
    d = [r.d2 for r in rows[1:]]
    assert d == sorted(d, reverse=True)
    assert rows[0].d2 <= rows[-1].d2


def test_crossfield_rules_tie_to_source(spark, sf_dir):
    """Line counts tie to the fact table; violations within counts."""
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_dq_crossfield"](spark, sf_dir).collect()
    n_li = load(spark, sf_dir, "lineitem").count()
    assert sum(r.n_lines for r in rows) == n_li
    for r in rows:
        assert 0 <= r.n_ship_before_order + r.n_ship_late
        assert r.violation_ppm <= 2_000_000


def test_friedman_rank_identities(spark, sf_dir):
    """Doubled midranks per block sum to k(k+1), so Σ_j S_j must be
    n·k·(k+1); mean ranks average to (k+1)/2; chi2 ≥ 0."""
    rows = entry.queries()["q_ml_friedman"](spark, sf_dir).collect()
    k = rows[0].k
    n = rows[0].n_blocks
    assert len(rows) == k
    assert sum(r.s2 for r in rows) == n * k * (k + 1)
    assert all(r.chi2_micro == rows[0].chi2_micro >= 0 for r in rows)


def test_uplift_arm_accounting(spark, sf_dir):
    """Arms partition the user base; conversions bounded by arm size;
    lift consistent with the published rates."""
    from spark_sklearn_spark.sources.io import load

    r = entry.queries()["q_behavior_uplift"](spark, sf_dir).collect()[0]
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert r.n0 + r.n1 == n_users
    assert 0 <= r.x0 <= r.n0 and 0 <= r.x1 <= r.n1
    assert r.lift_ppm == r.rate1_ppm - r.rate0_ppm


def test_lttb_picks_one_per_interior_bucket(spark, sf_dir):
    """Exactly one pick per interior bucket, and each pick's day lies
    inside its bucket."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_ts_lttb"](spark, sf_dir).collect()
    buckets = [r.bucket for r in rows]
    assert len(buckets) == len(set(buckets))
    days = (
        load(spark, sf_dir, "events")
        .select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("long")
            .alias("d")
        )
        .distinct()
    )
    all_buckets = sorted(
        r.b for r in days.selectExpr("d div 3 AS b").distinct().collect()
    )
    interior = set(all_buckets[1:-1])
    assert set(buckets) == interior
    for r in rows:
        assert r.day_num // 3 == r.bucket


def test_canary_bitshift_column(spark, sf_dir):
    """The new bitshift_mask column must extract byte 2 of the pinned
    constant: (0x1122334455667788 >> 16) & 255 = 0x66 = 102. The r10
    round_tie_micro column pins the multiply-round tie: the double
    nearest 0.1234565 is BELOW the boundary yet both engines round UP
    (DuckDB: product lands exactly on 123456.5, half-away; Spark:
    BigDecimal.valueOf goes through the shortest string repr)."""
    r = entry.queries()["q_dq_engine_canary"](spark, sf_dir).collect()[0]
    assert r.bitshift_mask == 102
    assert r.round_tie_micro == 123457


def test_purity_and_ari_consistent(spark, sf_dir):
    """Cluster populations cover the corpus; purity in (0, 1e6];
    ARI in [-0.5e6, 1e6] and its combinatoric inputs satisfy
    a <= min(b1, b2) <= C(n,2)."""
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_ml_cluster_purity"](spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert sum(r.n for r in rows) == n_vecs
    for r in rows:
        assert 0 < r.purity_ppm <= 1_000_000
        assert r.top_n <= r.n
    ari = entry.queries()["q_ml_rand_index"](spark, sf_dir).collect()[0]
    assert ari.n == n_vecs
    assert ari.a <= min(ari.b1, ari.b2) <= ari.n * (ari.n - 1) // 2
    assert -500_000 <= ari.ari_micro <= 1_000_000


def test_adamic_adar_ordering_and_bounds(spark, sf_dir):
    """Top-20 is score-sorted; every pair shares >= 1 capped part;
    AA <= n_common / ln(2)."""
    import math

    rows = entry.queries()["q_graph_adamic_adar"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r.aa_micro for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.n_common >= 1
        assert r.aa_micro <= r.n_common * 1_000_000 / math.log(2)


def test_bollinger_counts_bounded(spark, sf_dir):
    """Breaches cannot exceed the day count; both sides non-negative."""
    rows = entry.queries()["q_ts_bollinger"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_breach_upper + r.n_breach_lower <= r.n_days


def test_pii_tokenize_injective_and_join_preserving(spark, sf_dir):
    """No token collisions on the fixture, and the tokenized join
    returns exactly the key join's cardinality."""
    r = entry.queries()["q_pii_tokenize"](spark, sf_dir).collect()[0]
    assert r.n_collisions == 0
    assert r.n_tokens == r.n_names
    assert r.n_orders_by_token == r.n_orders_by_key
    assert r.min_token.startswith("c_") and len(r.min_token) == 19


def test_table_checksum_xor_is_partial_agg(spark, sf_dir):
    """All four batch-J keys close in 1-row global aggregates (the
    q_sample_neyman global-scalar exemption): pit_scd2's asof output,
    each checksum table, nmi's entropy sums, and esd's per-round
    moments all partial-aggregate map-side and funnel exactly one row
    per table/round — assert the checksum's XOR agg is combinable by
    checking the plan carries a partial_bit_xor before the exchange."""
    from spark_sklearn_spark.plans import executed_plan

    plan = executed_plan(
        entry.queries()["q_dq_table_checksum"](spark, sf_dir)
    )
    assert "partial_bit_xor" in plan or "partial_xor" in plan.lower()


def test_pit_scd2_version_attribution(spark, sf_dir):
    """Matched purchases carry a version >= 1; unmatched purchases
    are exactly the pre-first-signup ones."""
    r = entry.queries()["q_join_pit_scd2"](spark, sf_dir).collect()[0]
    assert 0 <= r.n_matched <= r.n_purchases
    assert r.version_sum >= r.n_matched  # every match has version >= 1
    assert r.max_version >= 1


def test_table_checksum_detects_change(spark, sf_dir, duck):
    """Row counts tie to the sources, and dropping one row flips the
    XOR checksum (oracle-side experiment)."""
    from spark_sklearn_spark.queries.pipeline24 import _CANON_NATION
    from spark_sklearn_spark.queries._helpers import sql_h56

    rows = {
        r.table_name: r
        for r in entry.queries()["q_dq_table_checksum"](
            spark, sf_dir
        ).collect()
    }
    n_nation = duck.execute("SELECT COUNT(*) FROM nation").fetchone()[0]
    assert rows["nation"].n_rows == n_nation
    full = rows["nation"].xor_h
    dropped = duck.execute(
        f"SELECT bit_xor({sql_h56(_CANON_NATION)}) FROM nation"
        f" WHERE n_nationkey <> 0"
    ).fetchone()[0]
    assert dropped != full


def test_esd_rounds_decreasing_criterion(spark, sf_dir):
    """Three distinct days; z stays positive; removing the extreme
    day cannot leave a MORE extreme round-2 pick under the same
    moments (weak check: all z positive and days distinct)."""
    rows = entry.queries()["q_ts_esd"](spark, sf_dir).collect()
    assert len(rows) == 3
    assert len({r.day_num for r in rows}) == 3
    for r in rows:
        assert r.z_micro >= 0


def test_nmi_in_unit_range_and_triple_consistent(spark, sf_dir):
    """NMI in [0, 1e6]; n ties to the other validation keys."""
    nmi = entry.queries()["q_ml_nmi"](spark, sf_dir).collect()[0]
    ari = entry.queries()["q_ml_rand_index"](spark, sf_dir).collect()[0]
    assert nmi.n == ari.n
    assert 0 <= nmi.nmi_micro <= 1_000_000


def test_glob_tree_agg_is_hash_partitioned_on_lang(spark, sf_dir):
    """granger/tost close in 1-row aggs and glob_tree crosses in the
    1-row recursive count (the csv_dirty/json_corrupt global-scalar
    shape) — all exempt. Assert the per-lang read is a combinable
    hash agg partitioned on lang, not a single-partition funnel."""
    from spark_sklearn_spark.plans import executed_plan

    plan = executed_plan(
        entry.queries()["q_source_glob_tree"](spark, sf_dir)
    )
    assert "hashpartitioning(lang" in plan


def test_granger_fits_are_valid(spark, sf_dir):
    """RSS_u <= RSS_r by construction so F >= 0; the design has
    days-1 rows."""
    r = entry.queries()["q_ts_granger"](spark, sf_dir).collect()[0]
    assert r.f_micro >= 0
    assert r.n_days >= 10


def test_tost_internally_consistent(spark, sf_dir):
    """equivalent == both one-sided t's above 1.645; margin > 0."""
    r = entry.queries()["q_ml_tost"](spark, sf_dir).collect()[0]
    assert r.margin_milli > 0
    want = int(
        r.t_lower_micro > 1_645_000 and r.t_upper_micro > 1_645_000
    )
    # floors lose < 1 micro: only assert when both are clear of the
    # threshold by at least one quantum
    if (
        abs(r.t_lower_micro - 1_645_000) > 1
        and abs(r.t_upper_micro - 1_645_000) > 1
    ):
        assert r.equivalent == want


def test_glob_tree_counts_tie(spark, sf_dir):
    """Per-lang doc counts sum to the recursive raw line count."""
    rows = entry.queries()["q_source_glob_tree"](spark, sf_dir).collect()
    total = rows[0].total_lines_recursive
    assert sum(r.n_docs for r in rows) == total
    assert all(r.total_lines_recursive == total for r in rows)


def test_kruskal_rank_identities(spark, sf_dir):
    """Doubled midranks over N days sum to N(N+1); H >= 0; 7 groups."""
    rows = entry.queries()["q_ml_kruskal"](spark, sf_dir).collect()
    assert len(rows) == 7
    n = sum(r.n_g for r in rows)
    assert sum(r.s2 for r in rows) == n * (n + 1)
    assert all(
        r.h_corr_micro == rows[0].h_corr_micro >= 0 for r in rows
    )


def test_powerlaw_tail_accounting(spark, sf_dir):
    """Tail is a subset of the population; alpha > 1 by construction."""
    r = entry.queries()["q_behavior_powerlaw"](spark, sf_dir).collect()[0]
    assert 0 < r.n_tail <= r.n_users
    assert r.alpha_micro > 1_000_000
    assert r.tail_share_ppm == r.n_tail * 1_000_000 // r.n_users


def test_double_charge_counts_consistent(spark, sf_dir):
    """Same-day pairs are a subset; gap mass bounded by 3 days/pair;
    affected customers cannot exceed pairs."""
    r = entry.queries()["q_dq_double_charge"](spark, sf_dir).collect()[0]
    assert 0 <= r.n_same_day <= r.n_pairs
    assert 0 <= r.gap_days_sum <= 3 * r.n_pairs
    assert r.n_customers <= max(r.n_pairs, 1)


def test_srp_recall_curve_invariants(spark, sf_dir):
    """The planted-copy bucket (top cos^2 decile present) must show
    100% recall — sign signatures are scale-invariant, so a x2 copy
    collides with its source in EVERY band; the random-pair bucket 0
    must sit near the theoretical 1-(1-p^8)^8 ~ 3.1% false-candidate
    floor (wide tolerance: the panel is finite); and every rate is a
    valid ppm."""
    rows = entry.queries()["q_dedup_recall_srp"](spark, sf_dir).collect()
    assert rows
    by = {r.c2_bucket: r for r in rows}
    top = max(by)
    assert top >= 8, sorted(by)  # planted copies land in a top decile
    assert by[top].n_cand == by[top].n_pairs  # 100% recall
    assert by[top].cand_rate_ppm == 1_000_000
    assert 0 in by and by[0].n_pairs > 100
    assert by[0].cand_rate_ppm < 150_000  # floor ~31k ppm, not ~1e6
    for r in rows:
        assert 0 <= r.n_cand <= r.n_pairs
        assert 0 <= r.cand_rate_ppm <= 1_000_000


def test_bitmap_words_match_exact_distinct(spark, sf_dir):
    """Popcount cardinalities must equal exact COUNT(DISTINCT) per
    type, and every pairwise intersection must equal the exact
    distinct-user overlap — the bitmap is lossless."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_fn_bitmap_words"](spark, sf_dir).collect()
    assert rows
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    users = {
        t: {
            r.user_id
            for r in ev.filter(F.col("event_type") == t)
            .select("user_id")
            .distinct()
            .collect()
        }
        for t in exact
    }
    for r in rows:
        assert r.n_a == exact[r.type_a]
        assert r.n_b == exact[r.type_b]
        assert r.n_both == len(users[r.type_a] & users[r.type_b])
        union = r.n_a + r.n_b - r.n_both
        assert r.jaccard_ppm == r.n_both * 1000000 // union


def test_closeness_monotone_and_bounded(spark, sf_dir):
    """harmonic = 1e6*n_d1 + 5e5*n_d2 + 333333*n_d3 exactly, and each
    seed's depth-1 reach equals its degree in the symmetric edge
    set."""
    rows = entry.queries()["q_graph_closeness"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        want = (
            1_000_000 * r.n_d1 + 500_000 * r.n_d2 + 333_333 * r.n_d3
        )
        assert r.harmonic_micro == want, r
        assert r.n_d1 >= 1  # a seed is an edge endpoint by construction


def test_isotonic_is_monotone_and_brackets_rates(spark, sf_dir):
    """The PAV fit must be nondecreasing in the bin, agree with the
    raw rate wherever the raw curve is already monotone across the
    whole range, and stay inside [min rate, max rate]."""
    rows = entry.queries()["q_ml_isotonic_bins"](spark, sf_dir).collect()
    assert rows
    iso = [r.iso_ppm for r in rows]
    assert iso == sorted(iso)
    rates = [r.rate_ppm for r in rows]
    assert min(rates) <= iso[0] and iso[-1] <= max(rates)


def test_funnel_window_bounded_by_unbounded(spark, sf_dir):
    """Each windowed stage count must be <= the unbounded funnel's
    count at the same stage (the window only removes conversions),
    and stages must be nonincreasing."""
    qs = entry.queries()
    w = {r.stage: r.n_users for r in qs["q_funnel_window"](spark, sf_dir).collect()}
    u = {r.stage: r.n_users for r in qs["q_funnel_ordered"](spark, sf_dir).collect()}
    assert w[1] == u[1]  # stage 1 has no window
    assert w[2] <= u[2] and w[3] <= u[3]
    assert w[1] >= w[2] >= w[3] >= 0


def test_cohen_d_antisymmetric_pairs(spark, sf_dir):
    """All 10 unordered type pairs present; d is finite and the
    magnitude is sane for same-distribution synthetic types."""
    rows = entry.queries()["q_ml_cohen_d"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.type_a < r.type_b
        assert abs(r.cohen_d_micro) < 5_000_000  # |d| < 5
