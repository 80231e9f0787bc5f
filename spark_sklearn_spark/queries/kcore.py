"""k-core peeling on the near-dup graph, unrolled and declared.

k-core (repeatedly remove nodes with degree < k) is the graph-health
primitive between degree distribution (one round) and connected
components (full closure): the 2-core is the subgraph where every doc
has at least two near-dup partners — the template/boilerplate nucleus
a dedup review looks at first. Full peeling iterates to a fixpoint;
here THREE rounds unroll as DataFrame ops over the memoized edge
snapshot, which converges on any graph whose peel stabilizes fast
(the fixture does — see the test) and is the bounded-iteration shape
production uses when the driver caps rounds. Each round is two tiny
aggs + two semi joins over the edge relation (edges ≪ docs), so the
whole query is metadata-sized after the snapshot build.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from .bigrams import NEAR_DUP_EDGES_CTES, degrees, near_dup_edges

KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    # every peel CTE is MATERIALIZED, like edges0: the chain references
    # each round many times, and DuckDB inlining re-evaluates the
    # quadratic shingle join per reference (measured 277 s -> ~1 s at
    # sf0.01 with materialization)
    peel = []
    prev = "edges0"
    for r in range(1, KCORE_ROUNDS + 1):
        peel.append(f"""deg{r} AS MATERIALIZED (
          SELECT doc_id, COUNT(*) AS dg FROM (
            SELECT doc_a AS doc_id FROM {prev}
            UNION ALL SELECT doc_b FROM {prev}
          ) GROUP BY doc_id
        ),
        keep{r} AS MATERIALIZED (
          SELECT doc_id FROM deg{r} WHERE dg >= {KCORE_K}
        ),
        edges{r} AS MATERIALIZED (
          SELECT e.doc_a, e.doc_b FROM {prev} e
          JOIN keep{r} ka ON ka.doc_id = e.doc_a
          JOIN keep{r} kb ON kb.doc_id = e.doc_b
        )""")
        prev = f"edges{r}"
    rows = " UNION ALL ".join(
        f"""SELECT {r} AS round,
               (SELECT COUNT(*) FROM keep{r}) AS n_nodes,
               (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
                FROM keep{r}) AS sum_nodes,
               (SELECT COUNT(*) FROM edges{r}) AS n_edges"""
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
        WITH {NEAR_DUP_EDGES_CTES},
        {", ".join(peel)}
        SELECT * FROM ({rows})
        ORDER BY round
    """


@query("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark, d):
    """2-core peel of the near-dup graph, three unrolled rounds
    (module docstring): per round the surviving node count, an exact
    node-id-sum checksum pinning WHICH nodes survive, and the
    surviving edge count. Rides the memoized near_dup_edges snapshot;
    each round is a symmetric-degree agg + two semi joins on the edge
    relation. The oracle recomputes the graph and peel in SQL."""
    edges = near_dup_edges(spark, d).select("doc_a", "doc_b")
    rows = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = degrees(edges, "doc_a", "doc_b")
        keep = deg.filter(F.col("dg") >= KCORE_K).select("doc_id")
        # eager localCheckpoint per round: each later round AND its
        # stats row re-reads this relation, and without the cut the
        # lineage re-runs the whole peel chain per consumer (the
        # q_sim_mmr_exact pattern; edge relation is snapshot-sized)
        edges = (
            edges.join(
                keep.withColumnRenamed("doc_id", "doc_a"), "doc_a", "semi"
            )
            .join(
                keep.withColumnRenamed("doc_id", "doc_b"), "doc_b", "semi"
            )
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
        stats = keep.agg(
            F.lit(r).alias("round"),
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.sum("doc_id"), F.lit(0).cast("long")).alias(
                "sum_nodes"
            ),
        ).crossJoin(
            F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        )
        rows.append(stats)
    out = rows[0]
    for s in rows[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")
