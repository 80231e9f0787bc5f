"""Round-12 gates.

1. Fixture-assumption gate for q_multimodal_resize (ADVICE r11): its
   DuckDB oracle walks documents.text with character-based
   substr/ord/length and VARCHAR md5, which equals the Spark-side
   byte-level numpy path only while every text is non-empty pure
   ASCII (and k % n divides by zero on empty text). True at all three
   local fixtures today — this test makes a fixture regen that breaks
   the assumption fail LOUDLY in pytest instead of as a silent driver
   hash-mismatch.

2. Driver-window rotation pin (VERDICT r11 item 3): the r12 window
   must lead with the 6 never-driver-sampled declared keys promised
   by the r11 window comment, include the 2 never-sampled rows-only
   keys (so coverage reaches 378/378), hold q_ml_keyed_cluster near
   the head one more rotation (ADVICE r11 cascade risk), and fill
   with the stalest r2/r3-era keys.
"""

from __future__ import annotations

import pytest

# The r12 window (canary + 6 deferred + 2 never-sampled rows-only +
# q_ml_keyed_cluster + the 13 new r12 keys + the CV-search promotions
# + the r2/r3 stale block) went 50/50 green in CORRECTNESS_r12 and
# rotated to the back for r13; its membership pin retired with it.
# The live window pin is tests/test_round13.py.




def test_katz_walk_counts_consistent(spark):
    """Walk-count identities on the near-dup graph at sf0.001:
    Σ_v walks1(v) = 2·|edges| (each undirected edge contributes two
    directed walks), every node with walks1 > 0 appears, and
    katz_scaled64 recombines exactly."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.queries.pipeline2 import near_dup_edges

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_graph_katz"](spark, sf).collect()
    assert rows
    n_edges = near_dup_edges(spark, sf).count()
    assert sum(r.walks1 for r in rows) == 2 * n_edges
    for r in rows:
        assert r.katz_scaled64 == 16 * r.walks1 + 4 * r.walks2 + r.walks3
        assert r.walks2 >= r.walks1  # every neighbor has degree >= 1


def test_lof_invariants(spark):
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

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_ml_lof"](spark, sf).collect()
    assert rows
    emb = {
        r.vec_id: np.floor(
            np.asarray(r.embedding, dtype="float64") * LOF_Q
        ).astype("int64")
        for r in load(spark, sf, "embeddings")
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


def test_mutual_info_nonnegative_total(spark):
    """MI at sf0.001: per-priority contributions sum to a
    non-negative total (MI >= 0 up to the per-part floor error of at
    most 1 micro-nat each), and the n_x margins cover every order."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_feat_mutual_info"](spark, sf).collect()
    assert rows
    total_orders = load(spark, sf, "orders").count()
    assert sum(r.n_x for r in rows) == total_orders
    # each part floors at most 1 micro-nat low
    assert sum(r.mi_part_micro for r in rows) >= -len(rows)


def test_round12_batch_plans_are_scalable(spark):
    """q_graph_katz must carry no cartesians / BNLJ /
    single-partition exchanges (its state is edge-snapshot-sized).
    q_ml_lof is the documented panel exemption (the q_ml_knn_classify
    precedent): its ONLY non-equi join is broadcast(panel) × panel
    where the panel is fixed-size by construction. q_feat_mutual_info
    is the documented bounded-grid exemption (the Lloyd-shape
    precedent): everything past the one data-sized scan+partial-agg
    operates on the ≤|priorities|×|buckets| cell grid — the flagged
    BNLJ (constant-key 1-row n join) and SinglePartition exchange
    (global n agg) both run on that bounded relation, so the test
    instead asserts the scan side aggregates map-side (partial agg
    present) and reads only the two needed columns."""
    import os

    import __spark_entry__ as entry

    from spark_sklearn_spark.plans import assert_scalable, executed_plan
    from spark_sklearn_spark.sources.io import warehouse_path

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    assert_scalable(qs["q_graph_katz"](spark, sf))
    assert_scalable(qs["q_ml_lof"](spark, sf), allow_cartesian=True)
    plan = executed_plan(qs["q_feat_mutual_info"](spark, sf))
    assert "partial_count" in plan  # map-side combine before shuffle
    assert "o_orderpriority" in plan and "o_totalprice" in plan
    assert "o_orderdate" not in plan  # column pruning reached the scan
    # q_ml_permutation_test: same bounded exemption — the only BNLJ is
    # the 1-row observed-statistic join onto the 16-row rep relation;
    # the data-sized stage is one scan with a map-side combinable agg.
    plan = executed_plan(qs["q_ml_permutation_test"](spark, sf))
    assert "partial_count" in plan
    assert "o_orderdate" not in plan
    # q_emb_isotropy: one aggregate over the memoized 4096-row cells
    # snapshot — the global agg's SinglePartition runs on a
    # constant-size relation (Lloyd-shape exemption).
    plan = executed_plan(qs["q_emb_isotropy"](spark, sf))
    fit = os.path.basename(warehouse_path("pca_fit", sf))
    assert f"pca_fit/{fit}/cells" in plan  # reads the shared fit snapshot


def test_isotropy_bounds(spark):
    """Participation ratio must land in (1, 64]·1e6 micro and the
    trace/Frobenius identities must recombine: PR·F2 ≤ T²·1e6 <
    (PR+1)·F2 (floor definition). The fixture embeddings are
    near-isotropic, so PR should be well above half the dimension."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    r = entry.queries()["q_emb_isotropy"](spark, sf).collect()[0]
    assert r.n_vecs > 0 and r.fro2_damped > 0
    assert 1_000_000 < r.pr_micro <= 64_000_000
    t2 = r.trace_damped * r.trace_damped
    assert r.pr_micro * r.fro2_damped <= t2 * 1_000_000
    assert t2 * 1_000_000 < (r.pr_micro + 1) * r.fro2_damped
    assert r.pr_micro > 32_000_000  # isotropic fixture


def test_permutation_test_invariants(spark):
    """16 reps; each rep's arms partition the F+O orders; the
    observed F-vs-O gap is genuine in the fixture so random
    reassignment should rarely exceed it — but assert only structure
    (exceeds ∈ {0,1}) plus the arm-count partition, not luck."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_ml_permutation_test"](spark, sf).collect()
    assert [r.rep for r in rows] == list(range(1, 17))
    n_fo = (
        load(spark, sf, "orders")
        .filter("o_orderstatus IN ('F', 'O')")
        .count()
    )
    for r in rows:
        assert r.n_a + r.n_b == n_fo
        assert r.exceeds in (0, 1)
        assert r.n_a > 0 and r.n_b > 0


def test_ljung_box_replay(spark):
    """Exact numpy replay of the integer-scaled Ljung-Box pipeline at
    sf0.001: ρ_micro and the cumulative Q must match the n-scaled
    scatter arithmetic bit for bit, and ρ must lie in [-1e6, 1e6]."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_ts_ljung_box"](spark, sf).collect()
    assert [r.k for r in rows] == list(range(1, 8))
    daily = {
        r.day_idx: r.x
        for r in load(spark, sf, "events")
        .selectExpr(
            "cast(datediff(to_date(ts), date '1970-01-01') as long)"
            " as day_idx"
        )
        .groupBy("day_idx")
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    }
    idx = sorted(daily)
    n = len(idx)
    s = sum(daily.values())
    cent = {i: n * daily[i] - s for i in idx}
    den = sum(v * v for v in cent.values())
    cum = 0
    for r in rows:
        num = sum(
            cent[i] * cent[i + r.k] for i in idx if i + r.k in daily
        )
        rho = (num * 1_000_000) // den if num >= 0 else -(
            (-num * 1_000_000) // den
        )
        assert r.rho_micro == rho, (r.k, r.rho_micro, rho)
        assert -1_000_000 <= r.rho_micro <= 1_000_000
        t = rho * rho
        cum += t // (n - r.k)
        assert r.lb_q_scaled == n * (n + 2) * cum, r


def test_permutation_entropy_bounds(spark):
    """PE must land in [0, ln(6)]·1e6 micro-nats per event type, with
    n_patterns ≤ 6 and triples = days − 2 when the type's daily
    series is gap-free."""
    import math

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_ts_permutation_entropy"](spark, sf).collect()
    assert rows
    cap = math.floor(math.log(6) * 1_000_000)
    for r in rows:
        assert 0 <= r.pe_micro <= cap, r
        assert 1 <= r.n_patterns <= 6
        assert r.n_triples > 0


def test_mutual_knn_histogram(spark):
    """Degrees lie in 0..k, the histogram covers the whole panel, and
    the mutual-edge count implied by Σ deg·count is even (each mutual
    edge contributes to two points' degrees)."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.queries.pipeline30 import (
        LOF_K,
        LOF_PANEL_MOD,
    )
    from spark_sklearn_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_emb_mutual_knn"](spark, sf).collect()
    panel_n = (
        load(spark, sf, "embeddings")
        .filter(f"vec_id % {LOF_PANEL_MOD} = 0")
        .count()
    )
    assert sum(r.n_points for r in rows) == panel_n
    assert all(0 <= r.mutual_deg <= LOF_K for r in rows)
    assert sum(r.mutual_deg * r.n_points for r in rows) % 2 == 0


def test_cross_correlation_invariants(spark):
    """15 lag rows; |xcf| ≤ 1e6 + 1 micro; the lag-0 value is
    symmetric ground truth (overlap of the two full series), and
    n_pairs is maximal at k=0 for gap-free series."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_ts_cross_correlation"](spark, sf).collect()
    assert [r.k for r in rows] == list(range(-7, 8))
    by_k = {r.k: r for r in rows}
    for r in rows:
        assert abs(r.xcf_micro) <= 1_000_001, r
        assert r.n_pairs > 0
    assert all(by_k[0].n_pairs >= by_k[k].n_pairs for k in by_k)


def test_burstiness_replay(spark):
    """Exact integer replay of the Fano pipeline for every reported
    term at sf0.001, and Fano must be positive (a term with df≥30 in
    500 docs always disperses)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_text_burstiness"](spark, sf).collect()
    assert rows
    docs = load(spark, sf, "documents")
    nd = docs.count()
    stats = {
        r.term: (r.df, r.s, r.q)
        for r in docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("c").alias("s"),
            F.sum(F.expr("c * c")).alias("q"),
        )
        .collect()
    }
    for r in rows:
        df, s, q = stats[r.term]
        assert r.df == df and r.total_c == s
        assert r.fano_micro == (nd * q - s * s) * 1_000_000 // (nd * s)
        assert r.fano_micro > 0


def test_entropy_rate_bounds(spark):
    """h ∈ [0, ln(n_next_types)]·1e6 per state, and the transition
    totals cover every non-terminal event."""
    import math

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["q_behavior_entropy_rate"](spark, sf).collect()
    assert rows
    for r in rows:
        cap = math.floor(math.log(r.n_next_types) * 1_000_000) + 1
        assert 0 <= r.h_micro <= cap, r
        assert r.n_out >= r.n_next_types


def test_gini_replay(spark):
    """Exact integer replay at sf0.001 and range sanity: Gini of a
    real usage distribution lies strictly in (0, 1)·1e6 micro."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    r = entry.queries()["q_behavior_gini"](spark, sf).collect()[0]
    counts = sorted(
        (c.x, c.user_id)
        for c in load(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    n = len(counts)
    s = sum(x for x, _ in counts)
    sw = sum((i + 1) * x for i, (x, _) in enumerate(counts))
    assert (r.n_users, r.n_events) == (n, s)
    assert r.gini_micro == (2 * sw - (n + 1) * s) * 1_000_000 // (n * s)
    assert 0 < r.gini_micro < 1_000_000


def test_heaps_law_plausible(spark):
    """β must land in (0, 1)·1e6 (vocabulary grows sublinearly in a
    natural-ish corpus) and the curve's endpoint identities hold:
    n_points = doc count."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    r = entry.queries()["q_text_heaps_law"](spark, sf).collect()[0]
    assert r.n_points == load(spark, sf, "documents").count()
    assert 0 < r.beta_micro < 1_000_000
    assert r.lnk_micro is not None


def test_survey_2b_one_row_per_key():
    """SURVEY §2B is the contract document: exactly ONE table row per
    registered query key (VERDICT r11 item 6 — q_ml_ndcg and
    q_sketch_kmv each carried a stale duplicate row), and a row for
    EVERY registered key."""
    import os
    import re

    import __spark_entry__ as entry

    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    # A row's KEY CELL is the first `|`-cell; combined rows list
    # several keys (`q_a` / `q_b`), the TPC-H row a range
    # (`q_tpch_q2`…`q_tpch_q22`).
    keyed = []
    for cell in re.findall(r"^\| ((?:`q_\w+`)[^|]*) \|", survey, re.M):
        rng = re.match(r"`(q_tpch_q)(\d+)`…`q_tpch_q(\d+)`", cell)
        if rng:
            keyed.extend(
                f"{rng.group(1)}{i}"
                for i in range(int(rng.group(2)), int(rng.group(3)) + 1)
            )
        else:
            keyed.extend(re.findall(r"`(q_\w+)`", cell))
    dupes = sorted({k for k in keyed if keyed.count(k) > 1})
    assert not dupes, f"duplicate SURVEY §2B rows: {dupes}"
    missing = sorted(set(entry.queries()) - set(keyed))
    assert not missing, f"registered keys missing a SURVEY row: {missing}"


def test_driver_priority_is_complete_and_unique():
    """Every registered key appears exactly once in DRIVER_PRIORITY —
    a key missing from the list would silently fall to dict-insertion
    order behind the 50-key window forever."""
    import __spark_entry__ as entry
    from spark_sklearn_spark.registry import DRIVER_PRIORITY

    qs = entry.queries()
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY))
    assert set(DRIVER_PRIORITY) == set(qs)

FIXTURES = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
]


@pytest.mark.parametrize("d", FIXTURES)
def test_documents_text_ascii_nonempty(spark, d):
    """octet_length(text) == char length AND length > 0 for every
    document — the q_multimodal_resize oracle's load-bearing
    assumption (pipeline3.py resize oracle: character-based substr/
    ord vs Spark's byte-level numpy raster)."""
    from spark_sklearn_spark.sources.io import load

    bad = (
        load(spark, d, "documents")
        .selectExpr(
            "count_if(text IS NULL) AS nulls",
            "count_if(length(text) = 0) AS empties",
            "count_if(octet_length(encode(text, 'utf-8')) != length(text))"
            " AS multibyte",
        )
        .collect()[0]
    )
    assert bad["nulls"] == 0, "documents.text has NULLs — resize oracle unsafe"
    assert bad["empties"] == 0, (
        "documents.text has empty strings — k % n divides by zero in the "
        "q_multimodal_resize oracle"
    )
    assert bad["multibyte"] == 0, (
        "documents.text contains multibyte chars — the character-based "
        "DuckDB resize oracle no longer equals Spark's byte-level path"
    )
