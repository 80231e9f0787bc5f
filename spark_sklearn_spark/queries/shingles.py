"""The shingle near-duplicate graph: 3-word-shingle Jaccard pairs at
``NEAR_DUP_J`` and the connected components that turn them into
keep-one-per-cluster dedup decisions.

Like the bigram graph in bigrams.py, the graph has two sides written
independently that must agree row for row: the Spark relations
(MinHash-LSH pairs verified by exact Jaccard, snapshotted once per
fixture, and the pointer-jumping components over them) and the
DuckDB CTE chain each consumer's oracle replays. This module is the
one home of both, layer by layer:

- shingles: ``SHINGLES_SQL`` (sh), the distinct 3-word shingles per
  doc with >= 3 words, and ``SHINGLE_JACCARD_SQL``, their exact
  Jaccard over a pair ``a``, ``b`` of sh rows;
- pairs: ``dup_pairs`` (snapshot kind ``dup_pairs``) /
  ``DUP_PAIRS_CTES`` (plus pairs), the oriented src < dst pairs with
  Jaccard >= ``NEAR_DUP_J``. The oracle brute-forces every pair; the
  LSH side misses a pair at J >= 0.8 with probability ~3e-9;
- components: ``dup_components`` (kind ``dedup_components``) /
  ``DUP_COMPONENTS_CTES`` (plus the reflexive symmetric edges, the
  recursive reach and comp), one (doc_id, cluster_id) row per
  document, cluster_id the smallest doc_id in its component.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.lsh import near_dup_pairs
from ..sources.io import load, snapshot, write_parquet

# ONE definition of what a shingle and a near-dup pair are, used by
# every dedup oracle (q_dedup_minhash and q_dedup_clusters must never
# disagree about the pair set).
NEAR_DUP_J = 0.8
SHINGLES_SQL = """sh AS (
          SELECT doc_id,
                 list_distinct(flatten([[w[i] || '_' || w[i+1] || '_' || w[i+2]]
                                        for i in range(1, len(w)-1)])) AS shingles
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 3
        )"""
SHINGLE_JACCARD_SQL = (
    "len(list_intersect(a.shingles, b.shingles))::DOUBLE /"
    " len(list_distinct(list_concat(a.shingles, b.shingles)))"
)

DUP_PAIRS_CTES = f"""{SHINGLES_SQL}, pairs AS (
          SELECT a.doc_id AS src, b.doc_id AS dst
          FROM sh a, sh b
          WHERE a.doc_id < b.doc_id
            AND {SHINGLE_JACCARD_SQL} >= {NEAR_DUP_J}
        )"""

# reach is recursive, so a consumer must open with WITH RECURSIVE
# (DuckDB takes the keyword on the whole WITH clause, CLAUDE.md).
DUP_COMPONENTS_CTES = f"""{DUP_PAIRS_CTES}, edges AS (
          SELECT src, dst FROM pairs
          UNION SELECT dst, src FROM pairs
          UNION SELECT doc_id, doc_id FROM documents
        ), reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), comp AS (
          SELECT src AS doc_id, MIN(dst) AS cluster_id
          FROM reach GROUP BY src
        )"""


# q_dedup_clusters and q_dedup_canonical consume the SAME MinHash-LSH
# pairs → connected components subgraph (~85 % of each query's wall,
# VERDICT r5 "What's wrong" #2), so it is computed once per corpus
# version as a snapshot (sources/io.snapshot).


def dup_pairs(spark, d):
    """(src, dst) shingle near-dup LSH pair set at NEAR_DUP_J,
    snapshotted — shared by dup_components and the graph metrics
    built on the shingle graph (q_graph_modularity).
    q_dedup_minhash itself keeps computing live: it IS the declared
    check of this pipeline."""

    def write(path):
        docs = load(spark, d, "documents")
        pairs = near_dup_pairs(
            docs, "doc_id", "text", jaccard_threshold=NEAR_DUP_J
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        write_parquet(pairs, path)

    return spark.read.parquet(snapshot(spark, d, "dup_pairs", write))


def dup_components(spark, d):
    """(doc_id, cluster_id) near-dup component assignment, snapshotted."""
    from ..operators.components import connected_components

    def write(path):
        docs = load(spark, d, "documents")
        comp = connected_components(
            docs.select("doc_id"), dup_pairs(spark, d), "doc_id", "src", "dst"
        )
        write_parquet(comp, path)

    return spark.read.parquet(snapshot(spark, d, "dedup_components", write))
