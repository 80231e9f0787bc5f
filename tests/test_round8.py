"""Portability pins and query invariants, first group.

The portability pins guard what a strict result hasher sees: no oracle
emits HUGEINT/DECIMAL output columns, the engine canary's primitives
are stable, and the fixed queries emit integer-typed outputs. The rest
check query invariants (streaming dedup, basket lift, interval overlap,
histogram quantiles, PCA, k-core, tests of significance, and the
benford/pathing/rolling/holt/theilsen/knn/als/bpe and
stickiness/datetime/norm-audit/kmv/jsd/bfs/ndcg keys) against numpy,
pandas or a naive form of the same query.
"""

from __future__ import annotations

import __spark_entry__ as entry


def test_no_oracle_emits_hugeint_or_decimal(duck):
    """The r7 red mechanism, gated forever: every declared oracle's
    output schema must be free of HUGEINT (uncast integer SUMs,
    window SUMs, list_sum) and DECIMAL columns."""
    offenders = {}
    for name, sql in entry.oracle_sql().items():
        rel = duck.sql(sql)
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if "HUGEINT" in str(t) or str(t).startswith("DECIMAL")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_canary_values_pinned(spark, sf_dir, duck):
    """The canary's columns are constants of the engine pair — pin the
    expected values so a drift fails HERE with the mechanism named,
    not just in a driver row."""
    row = entry.queries()["q_dq_engine_canary"](spark, sf_dir).collect()[0]
    assert row.n_rows == 25
    assert row.sum_int == 300  # 0+1+..+24
    assert row.round6_micro == 666667
    assert row.negzero_norm == 0  # + 0.0 normalization holds
    assert row.intdiv_floor == 3
    assert row.ln_micro == 693147
    assert row.iso_dow == 5  # 2024-03-15 is a Friday
    assert row.decsum_micro == 2500000  # 25 * 0.1, exact via decimal
    assert row.seq_desc_len == 0
    # r9 extensions
    assert row.round_half_dir == 3  # exact .5 rounds AWAY, not banker's
    assert row.tie_floor_micro == 0  # fl(5e-7 * 1e6) < 0.5 ties floor to 0
    assert row.dbl_literal_atto == 721347520444481664  # strtod parity
    drow = duck.execute(entry.oracle_sql()["q_dq_engine_canary"]).fetchone()
    assert tuple(row) == tuple(drow)


def test_fixed_reds_emit_integer_outputs(spark, sf_dir):
    """The four r7 reds that carried ROUND(raw double) outputs now
    emit integer (long) columns for those measures."""
    qs = entry.queries()
    hapax = qs["q_text_hapax"](spark, sf_dir)
    types = dict(hapax.dtypes)
    assert types["ttr_ppm"] == "bigint"
    assert types["hapax_ppm"] == "bigint"
    mad = qs["q_ts_outlier_mad"](spark, sf_dir)
    types = dict(mad.dtypes)
    for c in ("med_micro", "mad_micro", "max_adev_micro", "n_outliers"):
        assert types[c] == "bigint", c
    ws = qs["q_sample_weighted"](spark, sf_dir)
    assert dict(ws.dtypes)["es_key"] == "bigint"


def test_stream_dedup_keys_equals_batch_distinct(spark, sf_dir):
    """The declared streaming dedup's key set equals batch DISTINCT
    regardless of which physical row the state store kept."""
    got = sorted(
        tuple(r)
        for r in entry.queries()["q_stream_dedup_keys"](
            spark, sf_dir
        ).collect()
    )
    from spark_sklearn_spark.sources.io import load

    want = sorted(
        tuple(r)
        for r in load(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    assert got == want


def test_basket_lift_total_stays_lazy(spark, sf_dir):
    """The lazified basket lift carries the basket total as a PLAN
    NODE (count(distinct basket) aggregate cross-joined in), not as an
    eagerly-computed literal folded into the lift expression."""
    df = entry.queries()["q_basket_lift"](spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "n_baskets" in plan, "basket total was folded to a literal"
    assert df.count() > 0


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """The physical plan must contain a hash/sort-merge join keyed on
    user_id+bucket."""
    df = entry.queries()["q_join_interval_overlap"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_interval_overlap_matches_theta_join(spark, sf_dir):
    """Bucket-explode equi join == the naive theta overlap join (the
    one-sided-explode variant missed pairs whose partner started a
    bucket earlier; this pins the both-side fix)."""
    from spark_sklearn_spark.queries.pipeline9 import OVL_BUCKET_US
    from spark_sklearn_spark.sources.io import load

    ev = load(spark, sf_dir, "events")

    def iv(etype, idname):
        from pyspark.sql import functions as F

        return ev.filter(F.col("event_type") == etype).select(
            "user_id",
            F.col("event_id").alias(idname),
            F.unix_micros("ts").alias(f"{idname}_lo"),
            (F.unix_micros("ts") + OVL_BUCKET_US).alias(f"{idname}_hi"),
        )

    from pyspark.sql import functions as F

    v, p = iv("view", "va"), iv("purchase", "pa")
    naive = (
        v.join(p, "user_id")
        .filter(
            (F.col("va_lo") < F.col("pa_hi"))
            & (F.col("pa_lo") < F.col("va_hi"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )
    want = sorted(tuple(r) for r in naive.collect())
    got = sorted(
        (r.user_id, r.n_overlaps)
        for r in entry.queries()["q_join_interval_overlap"](
            spark, sf_dir
        ).collect()
    )
    assert got == want


def test_hist_quantiles_match_exact_on_bin_edges(spark, sf_dir):
    """The histogram p-quantile bin must CONTAIN the exact percentile
    value (sanity: the sketch's error is bounded by one bin width)."""
    from spark_sklearn_spark.queries.pipeline10 import HQ_BIN
    from spark_sklearn_spark.sources.io import load
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    exact = {
        r.event_type: r.p50
        for r in ev.groupBy("event_type")
        .agg(F.percentile("value", F.lit(0.5)).alias("p50"))
        .collect()
    }
    sketch = {
        r.event_type: r.p50_bin
        for r in entry.queries()["q_sketch_hist_quantiles"](
            spark, sf_dir
        ).collect()
    }
    for et, bin_ in sketch.items():
        lo, hi = bin_ * HQ_BIN, (bin_ + 1) * HQ_BIN
        assert lo <= exact[et] <= hi, (et, lo, exact[et], hi)


def test_csv_dirty_flags_exactly_three(spark, sf_dir):
    """All three injected fault lines land in _corrupt_record, none in
    the good set (the hash also pins this; fail loudly here first)."""
    rows = entry.queries()["q_source_csv_dirty"](spark, sf_dir).collect()
    assert all(r.n_corrupt_total == 3 for r in rows)


def test_pca_power_aligns_with_numpy(spark, sf_dir):
    """The integer iterate must track numpy running the SAME three
    float power-iteration rounds from the same start (cos > 0.97).
    Note this tests arithmetic fidelity, not spectral convergence —
    the synthetic embeddings are near-isotropic (lambda1 ~ lambda2),
    so no 3-round method converges to the true eigenvector here."""
    import numpy as np

    from spark_sklearn_spark.queries.pca_power import (
        PP_Q,
        PP_ROUNDS,
        PP_VSCALE,
    )
    from spark_sklearn_spark.sources.io import load

    X = np.array(
        [
            r.embedding
            for r in load(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    Q = np.floor(X * PP_Q)
    C = Q - np.trunc(Q.sum(axis=0) / len(Q))
    cov = C.T @ C
    v = np.full(C.shape[1], float(PP_VSCALE))
    for _ in range(PP_ROUNDS):
        w = cov @ v
        v = w * PP_VSCALE / np.abs(w).max()
    v3 = np.array(
        [
            r.v3
            for r in entry.queries()["q_emb_pca_power"](spark, sf_dir)
            .orderBy("dim")
            .collect()
        ],
        dtype=np.float64,
    )
    cos = (v3 @ v) / (np.linalg.norm(v3) * np.linalg.norm(v))
    assert cos > 0.97, cos


def test_kcore_reaches_fixpoint(spark, sf_dir):
    """On the fixture the peel stabilizes within the three unrolled
    rounds: rounds 2 and 3 must match (so the bounded unroll IS the
    2-core here, not a truncation)."""
    rows = {
        r.round: (r.n_nodes, r.sum_nodes, r.n_edges)
        for r in entry.queries()["q_graph_kcore"](spark, sf_dir).collect()
    }
    assert rows[2] == rows[3], rows


def test_kcore_nodes_have_min_degree(spark, sf_dir):
    """Every surviving node of the final round has degree >= k within
    the surviving edge set — the defining 2-core property."""
    from spark_sklearn_spark.queries.bigrams import near_dup_edges
    from spark_sklearn_spark.queries.kcore import KCORE_K
    from pyspark.sql import functions as F

    edges = near_dup_edges(spark, sf_dir).select("doc_a", "doc_b")
    # replay the peel
    for _ in range(3):
        deg = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .unionAll(edges.select(F.col("doc_b").alias("doc_id")))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        keep = deg.filter(F.col("dg") >= KCORE_K).select("doc_id")
        edges = (
            edges.join(
                keep.withColumnRenamed("doc_id", "doc_a"), "doc_a", "semi"
            )
            .join(
                keep.withColumnRenamed("doc_id", "doc_b"), "doc_b", "semi"
            )
            .localCheckpoint()
        )
    final_deg = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionAll(edges.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    bad = final_deg.filter(F.col("dg") < KCORE_K).count()
    assert bad == 0


def test_ttest_and_chi2_match_numpy(spark, sf_dir):
    """Welch t and chi-square statistics agree with a straight numpy
    computation on the same data (within the micro quantization)."""
    import numpy as np

    from spark_sklearn_spark.sources.io import load

    ev = (
        load(spark, sf_dir, "events")
        .select("ts", "event_type", "value")
        .collect()
    )
    # t-test, pooled over one weekday to spot-check
    trows = entry.queries()["q_ml_ttest"](spark, sf_dir).collect()
    for tr in trows[:2]:
        iso = tr.iso_dow
        a = np.array(
            [
                r.value
                for r in ev
                if r.event_type == "click"
                and ((r.ts.isoweekday()) == iso)
            ]
        )
        b = np.array(
            [
                r.value
                for r in ev
                if r.event_type == "purchase"
                and ((r.ts.isoweekday()) == iso)
            ]
        )
        t = (a.mean() - b.mean()) / np.sqrt(
            a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
        )
        assert abs(tr.t_micro / 1e6 - t) < 1e-3, (iso, tr.t_micro, t)
    # chi-square
    crow = entry.queries()["q_ml_chi2"](spark, sf_dir).collect()[0]
    types = sorted({r.event_type for r in ev})
    dows = sorted({r.ts.isoweekday() for r in ev})
    obs = np.zeros((len(dows), len(types)))
    for r in ev:
        obs[dows.index(r.ts.isoweekday()), types.index(r.event_type)] += 1
    rtot = obs.sum(axis=1, keepdims=True)
    ctot = obs.sum(axis=0, keepdims=True)
    exp = rtot @ ctot / obs.sum()
    chi2 = ((obs - exp) ** 2 / exp).sum()
    assert crow.dof == (len(dows) - 1) * (len(types) - 1)
    assert abs(crow.chi2_micro / 1e6 - chi2) < 1e-3, (crow.chi2_micro, chi2)


def test_check_lint_flags_hugeint(duck):
    """tools/check.py's portability lint names HUGEINT oracle columns."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check import _portability_lint

    warns = _portability_lint(
        "t", "SELECT SUM(n_nationkey) AS s FROM nation", [], [], duck
    )
    assert any("HUGEINT" in w for w in warns)
    warns = _portability_lint("t", "SELECT 1 AS s", [(-0.0,)], [], duck)
    assert any("-0.0" in w for w in warns)


def test_benford_shares_and_terms(spark, sf_dir):
    """Digits are 1..9, observed shares sum to ~1e6 ppm, expected
    shares match log10(1+1/d), and chi-square terms are nonnegative."""
    import math

    rows = entry.queries()["q_dq_benford"](spark, sf_dir).collect()
    digits = [r.first_digit for r in rows]
    assert digits == sorted(digits) and set(digits) <= set(range(1, 10))
    assert abs(sum(r.obs_ppm for r in rows) - 1_000_000) <= len(rows)
    for r in rows:
        exp = math.floor(math.log10(1 + 1 / r.first_digit) * 1e6)
        assert r.benford_ppm == exp, (r.first_digit, r.benford_ppm, exp)
        assert r.term_micro >= 0


def test_pathing_paths_end_in_purchase(spark, sf_dir):
    rows = entry.queries()["q_behavior_pathing"](spark, sf_dir).collect()
    assert rows, "no conversion paths on fixture"
    assert all(r.path.endswith(">purchase") for r in rows)
    assert all(r.n_conversions >= r.n_users > 0 for r in rows)
    ns = [r.n_conversions for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_rolling_median_matches_pandas(spark, sf_dir):
    """med7_micro equals pandas' rolling(7, min_periods=1).median of
    the same daily series (exact selection on identical doubles)."""
    import pandas as pd

    df = entry.queries()["q_ts_rolling_median"](spark, sf_dir).toPandas()
    for et, g in df.groupby("event_type"):
        g = g.sort_values("day")
        med = (
            (g.rev_micro / 1e6).rolling(7, min_periods=1).median() * 1e6
        ).apply(lambda x: int(x // 1) if x == x else 0)
        # rev_micro is already floored; rolling median of floored
        # values can differ from floored median of exact values by at
        # most 1 micro — assert tight agreement
        got = g.med7_micro.to_numpy()
        assert (abs(got - med.to_numpy()) <= 1).all(), et


def test_holt_matches_python_recurrence(spark, sf_dir):
    """The unrolled SQL chain equals the straight Python recurrence on
    the same daily inputs."""
    from spark_sklearn_spark.queries.pipeline12 import _HOLT_STEPS
    from spark_sklearn_spark.sources.io import load
    from pyspark.sql import functions as F

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(30,10)"))
            .cast("double")
            .alias("rev")
        )
        .orderBy("event_type", "day")
        .collect()
    )
    series = {}
    for r in daily:
        series.setdefault(r.event_type, []).append(r.rev)
    rows = entry.queries()["q_ts_holt"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        y = series[r.event_type][:_HOLT_STEPS]
        assert len(y) >= _HOLT_STEPS
        l, b = y[0], y[1] - y[0]
        for t in range(1, _HOLT_STEPS):
            l_new = 0.5 * y[t] + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new
        import math

        assert r.level_micro == math.floor(l * 1e6), r
        assert r.trend_micro == math.floor(b * 1e6), r


def test_theilsen_matches_numpy(spark, sf_dir):
    import math

    import numpy as np

    from spark_sklearn_spark.queries.pipeline12 import q_ts_theilsen
    from spark_sklearn_spark.sources.io import load
    from pyspark.sql import functions as F

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("cast(date_trunc('day', ts) as long) div 86400").alias(
                "dday"
            ),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(30,10)"))
            .cast("double")
            .alias("rev")
        )
        .collect()
    )
    pts = {}
    for r in daily:
        pts.setdefault(r.event_type, []).append((r.dday, r.rev))
    for row in q_ts_theilsen(spark, sf_dir).collect():
        p = sorted(pts[row.event_type])
        slopes = [
            (p[j][1] - p[i][1]) / (p[j][0] - p[i][0])
            for i in range(len(p))
            for j in range(i + 1, len(p))
        ]
        assert row.n_pairs == len(slopes)
        want = math.floor(float(np.median(slopes)) * 1e6)
        assert abs(row.sen_slope_micro - want) <= 1, row


def test_knn_classify_panel_and_bounds(spark, sf_dir):
    from spark_sklearn_spark.sources.io import load

    emb = load(spark, sf_dir, "embeddings")
    n_panel = emb.filter("vec_id % 97 = 0").count()
    rows = entry.queries()["q_ml_knn_classify"](spark, sf_dir).collect()
    assert sum(r.n_probes for r in rows) == n_panel
    for r in rows:
        assert 0 <= r.n_correct <= r.n_probes
        assert 0 <= r.acc_ppm <= 1_000_000


def test_als_round_matches_numpy(spark, sf_dir):
    """The item re-solve equals a straight numpy rank-1 ridge ALS
    half-round on the same counts (up to the decimal quantization)."""
    from collections import defaultdict

    from spark_sklearn_spark.sources.io import load

    ev = load(spark, sf_dir, "events").groupBy(
        "user_id", "event_type"
    ).count().collect()
    import hashlib

    def f0(t):
        h = int(hashlib.md5(t.encode()).hexdigest()[:14], 16)
        return 1.0 + (h % 1000) / 1000.0

    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.event_type, r["count"]))
    u = {}
    for uid, items in by_user.items():
        num = sum(c * f0(t) for t, c in items)
        den = 0.1 + sum(f0(t) ** 2 for t, _ in items)
        u[uid] = num / den
    by_item = defaultdict(list)
    for r in ev:
        by_item[r.event_type].append((r.user_id, r["count"]))
    for row in entry.queries()["q_ml_als_round"](spark, sf_dir).collect():
        pts = by_item[row.event_type]
        num = sum(c * u[uid] for uid, c in pts)
        den = 0.1 + sum(u[uid] ** 2 for uid, _ in pts)
        want = num / den
        assert abs(row.f1_micro / 1e6 - want) < 1e-4, (row, want)


def test_bpe_merge_fuses_top_pair(spark, sf_dir):
    """The merge pair is step-0's argmax, and after the merge no
    char-level pair 'x+y' of the merged pair survives where x,y were
    adjacent (they became one token), while the merged token appears
    in the new pair table's vocabulary."""
    rows = entry.queries()["q_text_bpe_merge"](spark, sf_dir).collect()
    assert rows
    mp = rows[0].merge_pair
    assert all(r.merge_pair == mp and len(mp) == 2 for r in rows)
    p1, p2 = mp[0], mp[1]
    toks = set()
    for r in rows:
        a, _, b = r.tokpair.partition("+")
        toks.add(a)
        toks.add(b)
        # greedy fuse: the bare adjacent pair cannot survive as a
        # token pair 'p1+p2' (it was merged everywhere)
        assert not (a == p1 and b == p2), r.tokpair
    pairs0 = entry.queries()["q_text_bpe_pairs"](spark, sf_dir).collect()
    assert pairs0[0].pair == mp


def test_stickiness_bounds(spark, sf_dir):
    rows = entry.queries()["q_behavior_stickiness"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # avg daily actives cannot exceed weekly actives
        assert 0 < r.stickiness_ppm <= 1_000_000, r
        assert r.sum_dau >= r.wau  # each week has >=1 day
        assert 1 <= r.n_days <= 7


def test_datetime_format_totals(spark, sf_dir):
    import re

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_fn_datetime_format"](spark, sf_dir).collect()
    n_events = load(spark, sf_dir, "events").count()
    assert sum(r.n for r in rows) == n_events
    for r in rows:
        assert re.fullmatch(r"\d{4}-\d{2}-\d{2}", r.day_str)
        assert re.fullmatch(r"\d{2}:\d{2}:\d{2}", r.first_hms)
        assert re.fullmatch(r"\d{3}", r.doy_str)
        assert r.first_hms <= r.last_hms


def test_norm_audit_moment_order(spark, sf_dir):
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_emb_norm_audit"](spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n_vecs
    for r in rows:
        assert r.min_sq <= r.mean_sq <= r.max_sq
        assert r.n_zero == 0  # fixture vectors are non-degenerate


def test_kmv_set_algebra_and_error(spark, sf_dir):
    rows = {
        r.set_name: r
        for r in entry.queries()["q_sketch_kmv"](spark, sf_dir).collect()
    }
    u = rows["click|purchase"]
    i = rows["click&purchase"]
    c, p = rows["click"], rows["purchase"]
    # exact set algebra: |A∪B| + |A∩B| = |A| + |B|
    assert u.n_exact + i.n_exact == c.n_exact + p.n_exact
    for r in rows.values():
        if r.n_exact >= 64:
            # KMV with k=64 has rsd ~1/sqrt(62) ≈ 13%; allow 4 sigma
            assert abs(r.err_ppm) < 520_000, r
        else:
            assert r.kmv_est == r.n_exact  # sketch not full: exact


def test_jsd_matches_numpy(spark, sf_dir):
    """One pair's jsd_micro equals a straight numpy JSD over the same
    token distributions."""
    import math

    from collections import Counter

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_text_jsd_pairwise"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.jsd_micro <= math.floor(math.log(2) * 1e6) + 1
    target = rows[0]
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F_col_in("source", [target.src_a, target.src_b]))
        .select("source", "text")
        .collect()
    )
    cnt = {target.src_a: Counter(), target.src_b: Counter()}
    for row in docs:
        cnt[row.source].update(row.text.split(" "))
    pa_n = sum(cnt[target.src_a].values())
    pb_n = sum(cnt[target.src_b].values())
    jsd = 0.0
    vocab = set(cnt[target.src_a]) | set(cnt[target.src_b])
    for w in vocab:
        pa = cnt[target.src_a][w] / pa_n
        pb = cnt[target.src_b][w] / pb_n
        m = (pa + pb) / 2
        if pa:
            jsd += 0.5 * pa * math.log(pa / m)
        if pb:
            jsd += 0.5 * pb * math.log(pb / m)
    assert abs(target.jsd_micro / 1e6 - jsd) < 5e-4, (target, jsd)


def F_col_in(name, values):
    from pyspark.sql import functions as F

    return F.col(name).isin(values)


def test_bfs_layers(spark, sf_dir):
    from spark_sklearn_spark.queries.bigrams import near_dup_edges
    from pyspark.sql import functions as F

    rows = entry.queries()["q_graph_bfs"](spark, sf_dir).collect()
    assert [r.depth for r in rows] == [0, 1, 2, 3]
    d0 = rows[0]
    assert d0.n_nodes == 1
    seed = (
        near_dup_edges(spark, sf_dir)
        .agg(F.min("doc_a").alias("m"))
        .collect()[0]
        .m
    )
    assert d0.sum_nodes == seed
    # the seed has near-dup partners, so depth 1 is non-empty
    assert rows[1].n_nodes > 0


def test_ndcg_bounds(spark, sf_dir):
    rows = entry.queries()["q_ml_ndcg"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.mean_ndcg_ppm <= 1_000_000, r
        assert 0 <= r.n_perfect <= r.n_probes
