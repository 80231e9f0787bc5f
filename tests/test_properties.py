"""Hypothesis property tests (SURVEY.md §5.1: the reference tested
gapply with randomized schemas/groups against a pandas oracle — the
same style, applied to the operators whose correctness depends on
non-obvious invariants).

Spark jobs per example are expensive, so examples are capped low and
deadlines disabled; the value is the generator exploring degenerate
shapes (empty sides, one-element domains, all-ties) a hand-written
test wouldn't."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window, functions as F

from spark_sklearn_spark.operators.band_join import band_join_less_than
from spark_sklearn_spark.operators.ranking import distributed_ntile

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    seed=st.integers(0, 2**31 - 1),
    na=st.integers(0, 30),
    nb=st.integers(0, 30),
    width=st.floats(0.5, 40.0),
)
@settings(**_SETTINGS)
def test_band_join_equals_naive_inequality(spark, seed, na, nb, width):
    """For any inputs and any band width, the band join returns
    exactly the pairs of the naive va < vb join — including empty
    sides and out-of-domain values."""
    rng = np.random.RandomState(seed)
    a = pd.DataFrame({"ida": range(na), "va": rng.rand(na) * 150 - 25})
    b = pd.DataFrame({"idb": range(nb), "vb": rng.rand(nb) * 150 - 25})
    schema_a, schema_b = "ida long, va double", "idb long, vb double"
    da = spark.createDataFrame(a, schema_a)
    db = spark.createDataFrame(b, schema_b)
    got = sorted(
        map(
            tuple,
            band_join_less_than(da, db, "va", "vb", lo=0.0, hi=100.0, width=width)
            .select("ida", "idb")
            .collect(),
        )
    )
    want = sorted(
        (int(ra.ida), int(rb.idb))
        for _, ra in a.iterrows()
        for _, rb in b.iterrows()
        if ra.va < rb.vb
    )
    assert got == want


@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(1, 120),
    tiles=st.integers(1, 7),
    n_ties=st.integers(0, 40),
)
@settings(**_SETTINGS)
def test_distributed_ntile_equals_native(spark, seed, n, tiles, n_ties):
    """Distributed ntile == Spark's native NTILE for any row count,
    tile count, and tie mass (including n < tiles and all-equal)."""
    rng = np.random.RandomState(seed)
    v = rng.rand(n) * 10
    v[: min(n_ties, n)] = 5.0  # inject a tie block
    pdf = pd.DataFrame({"id": range(n), "v": v})
    df = spark.createDataFrame(pdf, "id long, v double")
    got = distributed_ntile(df, "v", ["id"], tiles, buckets=8, out_col="q")
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.select("id", F.ntile(tiles).over(w).cast("long").alias("q"))
    assert got.select("id", "q").exceptAll(want).count() == 0


def test_approx_percentile_exact_and_gk_audit(spark, sf_dir):
    """q_agg_approx_percentile (DECLARED since r9): the histogram
    quantiles must equal the exact type-1 order statistics (value at
    rank ceil(q·n/100), in cents), and every GK audit column must be
    1 — the engine sketch honoring its rank guarantee."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    got = {
        r["l_returnflag"]: r
        for r in entry.queries()["q_agg_approx_percentile"](spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    for flag, row in got.items():
        vals = sorted(
            int(v[0] * 100 + 0.5)
            for v in li.filter(F.col("l_returnflag") == flag)
            .select("l_extendedprice")
            .collect()
        )
        n = len(vals)
        assert n == row["n"]
        for q in (50, 90, 99):
            rank = (n * q + 99) // 100  # ceil, 1-based
            assert row[f"p{q}_cents"] == vals[rank - 1], (flag, q)
            assert row[f"gk_ok_{q}"] == 1, (flag, q)


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing must tile each (source, shard) stream exactly: offsets
    in [0, W); pack_id monotone; cum(pack_id·W + offset) equals the
    running token total in doc_id order — i.e. no token is lost or
    double-placed."""
    import __spark_entry__ as entry
    from spark_sklearn_spark.queries.pipeline5 import PACK_WINDOW

    rows = entry.queries()["q_pack_sequences"](spark, sf_dir).collect()
    assert rows
    streams = {}
    for r in rows:
        streams.setdefault((r["source"], r["shard"]), []).append(r)
    for key, docs in streams.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in docs:
            assert 0 <= r["pack_offset"] < PACK_WINDOW, (key, r)
            assert r["pack_id"] * PACK_WINDOW + r["pack_offset"] == cum, (key, r)
            cum += r["n_tokens"]


def test_sample_temperature_rates_and_expectation(spark, sf_dir):
    """Every per-source rate must be in (0, 1]; lower-count sources
    must get rates ≥ higher-count sources (the flattening property);
    and the realized sample must be within a loose binomial window of
    rate·n."""
    import __spark_entry__ as entry

    rows = entry.queries()["q_sample_temperature"](spark, sf_dir).collect()
    assert rows
    by_n = sorted(rows, key=lambda r: r["n_docs"])
    for a, b in zip(by_n, by_n[1:]):
        assert a["rate"] >= b["rate"] - 1e-9, (a, b)
    for r in rows:
        assert 0 < r["rate"] <= 1
        expected = r["rate"] * r["n_docs"]
        sd = (r["n_docs"] * r["rate"] * (1 - r["rate"])) ** 0.5
        assert abs(r["n_sample"] - expected) <= 5 * sd + 3, r


def test_approx_distinct_error_bound(spark, sf_dir):
    """q_agg_approx_distinct is rows-only for the driver (the HLL++
    sketch is engine-specific); pin its accuracy here: at rsd=0.02 the
    estimate must sit within ±5·rsd of the exact per-group distinct
    count (HLL++ is near-exact at these cardinalities anyway)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    got = {
        r["event_type"]: r["approx_users"]
        for r in entry.queries()["q_agg_approx_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(2, 0.10 * exact[k]), (
            k, est, exact[k],
        )


def test_emb_pca_matches_numpy_integer_replay(spark, sf_dir):
    """q_emb_pca is DECLARED as of r10 (integer power iteration +
    deflation); this test replays the ENTIRE pipeline — milli
    quantize, trunc-div centering, damped integer Gram, three
    renormalized power rounds, integer Gram-Schmidt deflation, exact
    projections — in numpy with int64 arithmetic and demands
    BIT-EXACT equality with the engine output (a stronger contract
    than the old atol comparison against float eig), plus the
    deflation guarantee: the PC2 iterate is near-orthogonal to the
    PC1 iterate (|cos| bounded by the integer truncation)."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.queries.pca_power import (
        PCA_PROJ_MOD, PP_DAMP, PP_Q, PP_ROUNDS, PP_VSCALE,
    )
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_emb_pca"](spark, sf_dir).collect()
    assert rows
    emb = sorted(
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([i for i, _ in emb])
    X = np.vstack([v for _, v in emb])

    def tdiv(a, b):  # trunc-toward-zero div, positive divisor
        a = np.asarray(a, dtype=np.int64)
        return np.sign(a) * (np.abs(a) // np.int64(b))

    Q = np.floor(X * PP_Q).astype(np.int64)
    mean = tdiv(Q.sum(axis=0), len(Q))
    C = Q - mean
    M = tdiv(C.T @ C, PP_DAMP)
    v = np.full(64, PP_VSCALE, dtype=np.int64)
    for _ in range(PP_ROUNDS):
        w = M @ v
        v = tdiv(w * PP_VSCALE, np.abs(w).max())
    n1 = int((v * v).sum())
    u = PP_VSCALE - tdiv(PP_VSCALE * int(v.sum()), n1) * v
    u = tdiv(u * PP_VSCALE, np.abs(u).max())
    for _ in range(PP_ROUNDS):
        w = M @ u
        t = tdiv(int((w * v).sum()), n1)
        o = w - t * v
        u = tdiv(o * PP_VSCALE, np.abs(o).max())
    keep = ids % PCA_PROJ_MOD == 0
    want1 = C[keep] @ v
    want2 = C[keep] @ u
    got = {r["vec_id"]: (r["p1_q"], r["p2_q"]) for r in rows}
    assert set(got) == set(ids[keep].tolist())
    for vid, w1, w2 in zip(ids[keep].tolist(), want1, want2):
        assert got[vid] == (w1, w2), (vid, got[vid], (w1, w2))
    # deflation keeps the second iterate near-orthogonal to the first
    cos = abs(float((u * v).sum())) / (
        np.linalg.norm(u) * np.linalg.norm(v)
    )
    assert cos < 0.05, cos


def test_pagerank_invariants(spark, sf_dir):
    """q_graph_pagerank is rows-only; pin the operator here: over the
    full rank vector (not just the top-20 the query returns), Σrank =
    1 (dangling mass redistributed, nothing leaks), every rank ≥ the
    teleport floor (1-d)/n, and isolated docs sit exactly AT the
    floor-plus-dangling base while connected hubs sit above it."""
    from spark_sklearn_spark.operators.pagerank import pagerank
    from spark_sklearn_spark.queries.bigrams import near_dup_sym
    from spark_sklearn_spark.sources.io import load

    docs = load(spark, sf_dir, "documents")
    sym = near_dup_sym(spark, sf_dir)
    pr = pagerank(docs.select("doc_id"), sym, "doc_id", "src", "dst")
    rows = pr.collect()
    n = len(rows)
    assert n == docs.count()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-9, total
    floor = (1.0 - 0.85) / n
    assert all(r["rank"] >= floor - 1e-12 for r in rows)
    isolated = [r["rank"] for r in rows if r["out_degree"] == 0]
    connected = [r["rank"] for r in rows if r["out_degree"] > 0]
    if isolated and connected:
        # isolated docs all share one base rank; hubs exceed it
        assert max(isolated) - min(isolated) < 1e-12
        assert max(connected) > max(isolated)


def test_stream_foreach_upsert_equals_batch_aggregate(spark, sf_dir):
    """q_stream_foreach_upsert is rows-only; pin its semantics here:
    the versioned per-batch MERGE must converge to EXACTLY the
    from-scratch batch aggregate (the algebraic-merge invariant —
    count/sum partial states absorb deltas losslessly)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.queries._helpers import DEC
    from spark_sklearn_spark.sources.io import load

    got = {
        r["event_type"]: (r["n"], r["sum_cents"])
        for r in entry.queries()["q_stream_foreach_upsert"](spark, sf_dir).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sum_cents"])
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.sum(F.col("value").cast(DEC)) * 100)
            .cast("long")
            .alias("sum_cents"),
        )
        .collect()
    }
    assert got == want


def test_stream_dedup_equals_batch_distinct(spark, sf_dir):
    """q_stream_dedup (dropDuplicatesWithinWatermark on event_id) over
    a bounded replay must keep exactly one row per event_id — the
    batch-distinct cardinality."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_stream_dedup"](spark, sf_dir).collect()
    n_distinct = (
        load(spark, sf_dir, "events").select("event_id").distinct().count()
    )
    assert len(rows) == n_distinct


def test_ml_kmeans_matches_numpy(spark, sf_dir):
    """q_ml_kmeans is declared (DuckDB-verified), but the oracle
    shares the SQL formulation; this mirrors the unrolled Lloyd
    rounds from scratch in numpy integer arithmetic — seeding,
    argmin tie-breaks, floored centroid means, empty-cluster
    carry-forward — and demands exact equality of every output
    cell, and of every cell of the shared cluster x label
    contingency table (fits.km_contingency)."""
    from collections import Counter

    import __spark_entry__ as entry

    from spark_sklearn_spark.queries.fits import KM_K, KM_Q, km_contingency
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_ml_kmeans"](spark, sf_dir).collect()
    assert len(rows) == KM_K

    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    emb.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in emb], dtype=np.int64)
    Q = np.floor(
        np.array([r["embedding"] for r in emb], dtype=np.float64) * KM_Q
    ).astype(np.int64)

    cent = Q[:KM_K].copy()
    assign = None
    d2 = None
    for it in range(3):
        d2 = ((Q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        # np.argmin picks the lowest index on ties — the same
        # (dist2, cluster) ordering as the query's rank window
        assign = d2.argmin(axis=1)
        if it == 2:
            break
        for c in range(KM_K):
            m = assign == c
            if m.any():
                cent[c] = np.floor(
                    Q[m].sum(axis=0) * 1.0 / m.sum()
                ).astype(np.int64)
    for c, row in enumerate(rows):
        assert row["cluster"] == c
        m = assign == c
        assert row["n_members"] == int(m.sum())
        assert row["min_member"] == int(ids[m].min())
        assert row["inertia_q"] == int((d2[m, c] // KM_Q).sum())
        assert row["c1_q"] == int(cent[c][0])
        assert row["c2_q"] == int(cent[c][1])

    cont = {
        (r["cluster"], r["label"]): r["c"]
        for r in km_contingency(spark, sf_dir).collect()
    }
    want = Counter(
        (int(c), r["label"]) for c, r in zip(assign, emb)
    )
    assert cont == dict(want)


def test_ml_logreg_matches_numpy(spark, sf_dir):
    """Mirror of q_ml_logreg's three GD steps in numpy: per-term
    DECIMAL(30,10) quantization emulated with exact int64 sums, the
    identical weight-update expression, and the same margin-based
    accuracy — weights and metrics must agree at the rounded
    precision the query reports. The shared decile bins
    (fits.lr_decile_bins) must match numpy bins of the replayed
    scores."""
    import math

    import __spark_entry__ as entry

    from spark_sklearn_spark.queries.fits import LR_RATE, lr_decile_bins
    from spark_sklearn_spark.sources.io import load

    row = entry.queries()["q_ml_logreg"](spark, sf_dir).collect()[0]

    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", "value", F.hour("ts").alias("h"))
        .collect()
    )
    y = np.array(
        [1.0 if e["event_type"] == "purchase" else 0.0 for e in ev]
    )
    x1 = np.array([e["value"] for e in ev], dtype=np.float64) / 100.0
    x2 = np.array([e["h"] for e in ev], dtype=np.float64) / 24.0
    n = len(y)

    def dec_sum(t):
        # DECIMAL(30,10) HALF_UP quantize, exact integer sum, /1e10
        qi = np.sign(t) * np.floor(np.abs(t) * 1e10 + 0.5)
        return float(qi.astype(np.int64).sum()) / 1e10

    w = np.zeros(3)
    for _ in range(3):
        z = w[0] + w[1] * x1 + w[2] * x2
        p = 1.0 / (1.0 + np.exp(-z))
        g = np.array(
            [dec_sum(p - y), dec_sum((p - y) * x1), dec_sum((p - y) * x2)]
        )
        w = w - LR_RATE * g / n

    assert row["n_rows"] == n
    for wi, name in zip(w, ["w0_micro", "w1_micro", "w2_micro"]):
        assert abs(row[name] / 1e6 - wi) < 3e-6, (name, wi)
    z = w[0] + w[1] * x1 + w[2] * x2
    # the numpy weights match the engine's only to ~2e-6, so rows
    # whose margin sits inside that drift may legitimately flip the
    # z >= 0 threshold — tolerate exactly those
    boundary = int((np.abs(z) < 1e-4).sum())
    assert (
        abs(row["n_correct"] - int(((z >= 0) == (y == 1.0)).sum()))
        <= boundary
    )
    p = 1.0 / (1.0 + np.exp(-z))
    ll = dec_sum(-(y * np.log(p) + (1.0 - y) * np.log(1.0 - p))) / n
    assert abs(row["log_loss_micro"] / 1e6 - ll) < 2e-4

    bins = {r["bin"]: r for r in lr_decile_bins(spark, sf_dir).collect()}
    assert sum(r["nb"] for r in bins.values()) == n
    b = np.minimum(np.floor(p * 10.0), 9).astype(np.int64)
    # the replayed p drifts from the engine's by < 1e-5, so only rows
    # that close to a decile edge may land in a neighbouring bin
    edges = np.arange(1, 10) / 10.0
    near = int((np.abs(p[:, None] - edges[None, :]) < 1e-5).any(axis=1).sum())
    for k in set(bins) | set(b.tolist()):
        r = bins.get(k)
        m = b == k
        assert abs((r["nb"] if r else 0) - int(m.sum())) <= near, k
        assert abs((r["n_pos"] if r else 0) - int(y[m].sum())) <= near, k


def test_tree_split_invariants(spark, sf_dir):
    """q_ml_tree_stump / q_ml_tree_depth2: the argmin split can never
    be worse than its parent under weighted Gini (concavity), the
    leaf populations partition the root's, and per-node counts are
    internally consistent."""
    from spark_sklearn_spark.queries.pipeline8 import (
        q_ml_tree_depth2,
        q_ml_tree_stump,
    )

    stump = {r["feature"]: r for r in q_ml_tree_stump(spark, sf_dir).collect()}
    assert set(stump) == {"hour", "value_floor"}
    for r in stump.values():
        assert 0 < r["n_left"] < r["n_left"] + r["n_right"]
        assert r["gain_q9"] >= -1  # floor-quantization slack
        assert 0 <= r["pos_left"] <= r["n_left"]

    tree = {r["node"]: r for r in q_ml_tree_depth2(spark, sf_dir).collect()}
    root = tree["root"]
    assert root["gain_q9"] >= -1
    # the root is the best stump over both features
    assert root["gini_split_q9"] == min(
        r["gini_split_q9"] for r in stump.values()
    )
    if "L" in tree and "R" in tree:
        assert tree["L"]["n_node"] + tree["R"]["n_node"] == root["n_node"]
        assert (
            tree["L"]["pos_node"] + tree["R"]["pos_node"]
            == root["pos_node"]
        )
        assert tree["L"]["n_node"] == root["n_left"]
    for node in ("L", "R"):
        if node in tree:
            r = tree[node]
            assert r["gain_q9"] >= -1
            assert 0 < r["n_left"] < r["n_node"]


def test_km_survival_invariants(spark, sf_dir):
    """q_ts_survival: risk sets shrink as durations grow, the
    ln-survival cumsum is strictly decreasing (every emitted time has
    d > 0), events never exceed the risk set, and the largest risk
    set is bounded by the user count."""
    from spark_sklearn_spark.queries.pipeline8 import q_ts_survival
    from spark_sklearn_spark.sources.io import load

    rows = q_ts_survival(spark, sf_dir).collect()
    assert rows, "fixture should produce at least one event time"
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert rows[0]["n_risk"] <= n_users
    for prev, cur in zip(rows, rows[1:]):
        assert cur["duration_h"] > prev["duration_h"]
        assert cur["n_risk"] < prev["n_risk"]
        assert cur["km_ln_q9"] < prev["km_ln_q9"]
    for r in rows:
        assert 0 < r["n_event"] < r["n_risk"]
        assert r["km_ln_q9"] < 0


def test_hybrid_rrf_matches_recomputation(spark, sf_dir):
    """q_search_hybrid_rrf: fused ranks are a permutation of 1..k,
    fused scores are non-increasing, and every score equals the
    1/(60+r) recomputation from the reported input ranks."""
    import math

    from spark_sklearn_spark.queries.pipeline8 import (
        RRF_K,
        q_search_hybrid_rrf,
    )

    rows = q_search_hybrid_rrf(spark, sf_dir).collect()
    assert [r["fused_rank"] for r in rows] == list(
        range(1, len(rows) + 1)
    )
    scores = [r["rrf_q12"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        expect = math.floor(
            (
                (1.0 / (RRF_K + r["lex_rank"]) if r["lex_rank"] > 0 else 0.0)
                + (1.0 / (RRF_K + r["sem_rank"]) if r["sem_rank"] > 0 else 0.0)
            )
            * 1e12
        )
        assert r["rrf_q12"] == expect


def test_editdist_pairs_verified_in_python(spark, sf_dir):
    """q_dedup_editdist: every returned pair honors the integer
    accept test, is rep-ordered (doc_a < doc_b), and a sample of
    pairs reproduces its edit distance under a reference python DP
    on the same normalized heads."""
    import re

    from spark_sklearn_spark.queries.pipeline8 import (
        EDIT_HEAD,
        q_dedup_editdist,
    )
    from spark_sklearn_spark.sources.io import load

    rows = q_dedup_editdist(spark, sf_dir).collect()
    assert rows, "fixture should contain near-dup pairs"
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["edit_dist"] * 5 <= r["len_max"]

    def norm(t):
        return re.sub(r"[^a-z0-9 ]", "", t.lower())[:EDIT_HEAD]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    sample = rows[:3]
    ids = {r["doc_a"] for r in sample} | {r["doc_b"] for r in sample}
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(*ids))
        .collect()
    }
    for r in sample:
        got = lev(norm(texts[r["doc_a"]]), norm(texts[r["doc_b"]]))
        assert got == r["edit_dist"]


def test_gbm_round_invariants(spark, sf_dir):
    """q_ml_gbm_round: the split surface is rank-ordered by gain,
    left/right populations partition each feature's total, and leaf
    gammas recompute (to quantization slack) from the residual-sum
    closed form."""
    from spark_sklearn_spark.queries.pipeline8 import q_ml_gbm_round

    rows = q_ml_gbm_round(spark, sf_dir).collect()
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    gains = [r["gain_q"] for r in rows]
    assert gains == sorted(gains, reverse=True)
    for r in rows:
        assert r["n_left"] > 0 and r["n_right"] > 0
        assert r["gain_q"] >= 0


def test_calibration_bins_partition_population(spark, sf_dir):
    """q_ml_calibration: bins partition the event population, bin
    means sit inside their bucket bounds, and positives never exceed
    bin counts."""
    from spark_sklearn_spark.queries.pipeline8 import q_ml_calibration
    from spark_sklearn_spark.sources.io import load

    rows = q_ml_calibration(spark, sf_dir).collect()
    n_events = load(spark, sf_dir, "events").count()
    assert sum(r["n"] for r in rows) == n_events
    for r in rows:
        assert 0 <= r["n_pos"] <= r["n"]
        lo, hi = r["bin"] * 100000, (r["bin"] + 1) * 100000
        assert lo <= r["avg_p_q6"] <= hi or r["bin"] == 9
        assert r["gap_q6"] == r["avg_p_q6"] - r["pos_rate_q6"]


def test_centroid_sim_matches_numpy(spark, sf_dir):
    """q_emb_centroid_sim: the quantized integer geometry reproduces
    a numpy recomputation of centroid cosine/distance on the same
    quantized centroids."""
    import numpy as np

    from spark_sklearn_spark.queries.pipeline8 import q_emb_centroid_sim
    from spark_sklearn_spark.sources.io import load

    emb = load(spark, sf_dir, "embeddings").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(
            np.array(r["embedding"], dtype=np.float64)
        )
    cent = {
        lab: np.floor(np.mean(np.stack(vs), axis=0) * 1e6).astype(np.int64)
        for lab, vs in by_label.items()
    }
    rows = q_emb_centroid_sim(spark, sf_dir).collect()
    assert len(rows) == len(cent) * (len(cent) - 1) // 2
    for r in rows[:10]:
        a, b = cent[r["label_a"]], cent[r["label_b"]]
        dot, na, nb = int(a @ b), int(a @ a), int(b @ b)
        assert r["dist2_q12"] == na + nb - 2 * dot
        import math

        assert r["cos_q6"] == math.floor(
            dot / (math.sqrt(na * 1.0) * math.sqrt(nb * 1.0)) * 1e6
        )


def test_label_noise_panel_bounds(spark, sf_dir):
    """q_ml_label_noise_knn: panel accounting — per-label vec counts
    sum to min(panel, corpus), agreements are bounded by k*n, and the
    quantized mean matches its integer recomputation."""
    from spark_sklearn_spark.queries.pipeline8 import (
        NOISE_K,
        NOISE_PANEL,
        q_ml_label_noise_knn,
    )
    from spark_sklearn_spark.sources.io import load

    rows = q_ml_label_noise_knn(spark, sf_dir).collect()
    n_vecs_total = load(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == min(NOISE_PANEL, n_vecs_total)
    for r in rows:
        assert 0 <= r["sum_agree"] <= r["n_vecs"] * NOISE_K
        assert 0 <= r["n_suspect"] <= r["n_vecs"]
        assert r["mean_agree_q6"] == (
            r["sum_agree"] * 1000000 // (r["n_vecs"] * NOISE_K)
        )


def test_dedup_incremental_verdicts_consistent(spark, sf_dir):
    """q_dedup_incremental: one verdict per incoming doc, exact
    verdicts really do have an identical-text existing match, and
    every match id points at the existing partition."""
    from spark_sklearn_spark.queries.pipeline8 import q_dedup_incremental
    from spark_sklearn_spark.sources.io import load

    rows = q_dedup_incremental(spark, sf_dir).collect()
    docs = {r["doc_id"]: r["text"] for r in load(spark, sf_dir, "documents").collect()}
    incoming = [i for i in docs if i % 5 == 0]
    assert sorted(r["doc_id"] for r in rows) == sorted(incoming)
    for r in rows:
        if r["verdict"] == "new":
            assert r["match_id"] == -1
        else:
            assert r["match_id"] % 5 != 0
            if r["verdict"] == "exact":
                assert docs[r["match_id"]] == docs[r["doc_id"]]


def test_sample_balanced_exact_k(spark, sf_dir):
    """q_sample_balanced: every group keeps exactly the minority
    count, and checksums are consistent with the kept counts."""
    from spark_sklearn_spark.queries.pipeline8 import q_sample_balanced

    rows = q_sample_balanced(spark, sf_dir).collect()
    k = min(r["n_before"] for r in rows)
    for r in rows:
        assert r["n_kept"] == k
        assert r["n_kept"] <= r["n_before"]
        assert r["sum_kept_ids"] > 0
