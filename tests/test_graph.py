"""Near-dup graph query invariants (q_graph_*): walk counts,
community coverage, rich-club, truss, conductance and HITS statistics,
checked against replays on the edge snapshot.
"""

from __future__ import annotations

import __spark_entry__ as entry
from conftest import _rows


def test_near_dup_graph_sides_agree(spark, sf_dir, duck):
    """bigrams.py's two sides define one graph: the DuckDB edges0 set
    equals the near_dup_edges snapshot, the sym multiset equals
    near_dup_sym, and sym has no duplicate (src, dst) — the fact that
    lets q_graph_pagerank use it without a distinct."""
    from collections import Counter

    from spark_sklearn_spark.queries.bigrams import (
        NEAR_DUP_SYM_CTES,
        near_dup_edges,
        near_dup_sym,
    )

    def duck_rows(sql):
        return duck.execute(f"WITH {NEAR_DUP_SYM_CTES} {sql}").fetchall()

    edges = duck_rows("SELECT doc_a, doc_b FROM edges0")
    sym = duck_rows("SELECT src, dst FROM sym")
    assert edges  # an empty graph would make every check vacuous
    spark_edges = near_dup_edges(spark, sf_dir).select("doc_a", "doc_b")
    assert set(edges) == {tuple(r) for r in spark_edges.collect()}
    assert Counter(sym) == Counter(
        tuple(r) for r in near_dup_sym(spark, sf_dir).collect()
    )
    assert len(set(sym)) == len(sym)


def test_katz_walk_counts_consistent(spark, sf_dir):
    """Walk-count identities on the near-dup graph at sf0.001:
    Σ_v walks1(v) = 2·|edges| (each undirected edge contributes two
    directed walks), every node with walks1 > 0 appears, and
    katz_scaled64 recombines exactly."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.queries.bigrams import near_dup_edges

    rows = entry.queries()["q_graph_katz"](spark, sf_dir).collect()
    assert rows
    n_edges = near_dup_edges(spark, sf_dir).count()
    assert sum(r.walks1 for r in rows) == 2 * n_edges
    for r in rows:
        assert r.katz_scaled64 == 16 * r.walks1 + 4 * r.walks2 + r.walks3
        assert r.walks2 >= r.walks1  # every neighbor has degree >= 1


def test_leiden_refine_covers_all_graph_nodes(spark, sf_dir):
    """The gain histogram must partition the near-dup graph's node
    set exactly (Σ n_nodes = #nodes with ≥1 edge), and every gain is
    bounded by the node's degree in absolute value — spot-checked
    against the max degree."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.queries.bigrams import near_dup_sym

    rows = entry.queries()["q_graph_leiden_refine"](
        spark, sf_dir
    ).collect()
    sym = near_dup_sym(spark, sf_dir)
    n_nodes = sym.select("src").distinct().count()
    max_deg = (
        sym.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    assert sum(r.n_nodes for r in rows) == n_nodes
    assert all(abs(r.gain) <= max_deg for r in rows)
    assert rows == sorted(rows, key=lambda r: r.gain)


def test_rich_club_is_monotone_in_k(spark, sf_dir):
    """N_k and E_k are non-increasing in k (stricter clubs are
    smaller) and φ is a valid ppm share of the club's possible
    edges (NULL only when the club has < 2 members)."""
    rows = entry.queries()["q_graph_rich_club"](spark, sf_dir).collect()
    assert [r.k for r in rows] == [1, 2, 3, 5, 8]
    for a, b in zip(rows, rows[1:]):
        assert a.n_nodes >= b.n_nodes
        assert a.n_edges >= b.n_edges
    for r in rows:
        if r.n_nodes >= 2:
            assert 0 <= r.phi_ppm <= 1_000_000
        else:
            assert r.phi_ppm is None


def test_truss_support_covers_all_edges(spark, sf_dir):
    from spark_sklearn_spark.queries.bigrams import near_dup_edges

    rows = _rows(spark, sf_dir, "q_graph_truss_support")
    n_edges = near_dup_edges(spark, sf_dir).count()
    assert sum(r.n_edges for r in rows) == n_edges
    assert all(r.support >= 0 for r in rows)
    # support(e) ≤ min degree − 1; on any graph it's < n_edges
    assert all(r.support < max(n_edges, 1) for r in rows)


def test_conductance_bounds(spark, sf_dir):
    rows = _rows(spark, sf_dir, "q_graph_conductance")
    assert rows
    for r in rows:
        assert 0 < r.cut or r.conductance_ppm == 0
        assert 0 <= r.conductance_ppm <= 1_000_000
        # vol counts directed endpoints: ≥ 2·(n_nodes − 1) in a
        # connected community, ≥ n_nodes always
        assert r.vol >= r.n_nodes


def test_hits_invariants(spark, sf_dir):
    """Both roles present; round-1 hub weight is the degree (≥ 1);
    the round-2 hub weight dominates degree² (h2(c) = Σ_{p∈P(c)}
    a1(p) and every a1(p) ≥ h1(c) for a buyer c of p); and each
    role's L1 ppm shares sum to 1e6 within floor slop."""
    rows = entry.queries()["q_graph_hits"](spark, sf_dir).collect()
    roles = {r.role for r in rows}
    assert roles == {"hub", "auth"}
    by_role = {
        role: [r for r in rows if r.role == role] for role in roles
    }
    for r in by_role["hub"]:
        assert r.w1 >= 1
        assert r.w2 >= r.w1 * r.w1
    for role, rs in by_role.items():
        total = sum(r.score_ppm for r in rs)
        assert 1_000_000 - len(rs) <= total <= 1_000_000
