"""The near-duplicate document graph: exact word-bigram Jaccard pairs
over DF-capped grams, and the graph built on them.

Like the fits in fits.py, the graph has two sides written
independently that must agree row for row: the Spark relations (the
edge list snapshotted once per fixture, so every graph key pays a
file re-read, not a postings join) and the DuckDB CTE chain each
consumer's oracle replays. This module is the one home of both, layer
by layer:

- grams: ``rare_grams`` / ``BIGRAMS_SQL`` (grams, rare), the
  DF-capped distinct bigrams per doc (grams.py); the SQL ``rare``
  keeps the gram's ``df``;
- pair overlap: ``bigram_overlap`` / ``BIGRAM_PAIRS_CTES`` (plus
  sizes, inter, and pairs with the rounded Jaccard), the postings
  self-join on the gram, fan-out bounded by ``DF_CAP``;
- edges: ``rare_bigram_pairs``, the ``near_dup_edges`` snapshot /
  ``NEAR_DUP_EDGES_CTES`` (plus edges0), the oriented doc_a < doc_b
  pairs with Jaccard >= ``NEAR_DUP_TAU``;
- adjacency: ``near_dup_sym`` / ``NEAR_DUP_SYM_CTES`` (plus sym), the
  edges in both directions as (src, dst). The edges are unique and
  oriented, so this UNION ALL has no duplicate rows;
- degrees: ``degrees`` / ``NEAR_DUP_DEG_CTES`` (plus deg), one
  (doc_id, dg) row per doc with >= 1 edge.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.io import load, snapshot, write_parquet
from .grams import df_capped, df_capped_sql, word_grams, word_grams_sql

# Word bigrams present in more than DF_CAP documents are dropped from
# BOTH sides (stop-gram removal): a gram in k docs fans out C(k,2)
# candidate pairs, so the cap bounds the postings join while barely
# moving Jaccard on near-dups (stop-grams carry no identity signal).
DF_CAP = 100

# Near-dup edge threshold on the Jaccard rounded to 6 places. Both
# engines round BEFORE comparing, so the boundary pair set is
# identical; this ROUND is the one every graph key's oracle runs.
NEAR_DUP_TAU = 0.4

BIGRAMS_SQL = f"""
        grams AS ({word_grams_sql("documents", 2)}),
        rare AS ({df_capped_sql("grams", DF_CAP, with_df=True)})
"""

# pairs mirrors bigram_overlap (doc_a < doc_b, c, na, nb) plus jacc
BIGRAM_PAIRS_CTES = f"""{BIGRAMS_SQL},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ),
        pairs AS (
            SELECT i.doc_a, i.doc_b, i.c, sa.n AS na, sb.n AS nb,
                   ROUND(i.c * 1.0 / (sa.n + sb.n - i.c), 6) AS jacc
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
        )
"""

# MATERIALIZED: graph oracles read the edges (and sym) many times, and
# DuckDB inlining re-evaluates the postings join per reference
# (measured 277 s -> ~1 s at sf0.01 on q_graph_kcore).
NEAR_DUP_EDGES_CTES = f"""{BIGRAM_PAIRS_CTES},
        edges0 AS MATERIALIZED (
            SELECT doc_a, doc_b FROM pairs WHERE jacc >= {NEAR_DUP_TAU}
        )
"""

NEAR_DUP_SYM_CTES = f"""{NEAR_DUP_EDGES_CTES},
        sym AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst FROM edges0
          UNION ALL
          SELECT doc_b, doc_a FROM edges0
        )
"""

NEAR_DUP_DEG_CTES = f"""{NEAR_DUP_SYM_CTES},
        deg AS MATERIALIZED (
          SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS dg
          FROM sym GROUP BY src
        )
"""


def rare_grams(spark, d, with_df=False):
    """DF-capped distinct word bigrams per doc — (doc_id, g). The
    shared postings relation under bigram_overlap and the
    minhash-containment eval (q_text_minhash_containment).
    ``with_df=True`` keeps the per-gram document frequency the cap
    already computed (the IDF weighting tier, q_dedup_containment_idf,
    needs it; recomputing would cost a second shuffle on g)."""
    grams = word_grams(load(spark, d, "documents"), 2)
    return df_capped(grams, DF_CAP, with_df)


def bigram_overlap(spark, d):
    """Per-pair gram-overlap table (doc_a < doc_b, c = |A∩B|, na, nb)
    over DF-capped word bigrams — the shared postings-join core under
    q_dedup_ngram / q_graph_triangles (Jaccard) and
    q_text_containment (asymmetric ratio). Never doc×doc: the join is
    on the gram, fan-out bounded by DF_CAP."""
    rare = rare_grams(spark, d)
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = rare.select(F.col("doc_id").alias("doc_a"), "g")
    b = rare.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def rare_bigram_pairs(spark, d):
    """Exact word-bigram Jaccard pairs (doc_a < doc_b,
    jacc >= NEAR_DUP_TAU) over DF-capped grams — the shared edge set
    for q_dedup_ngram and the graph analytics built on the near-dup
    graph (q_graph_triangles, q_graph_pagerank)."""
    jacc = F.round(
        F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6
    )
    return (
        bigram_overlap(spark, d)
        .withColumn("jacc", jacc)
        .filter(F.col("jacc") >= NEAR_DUP_TAU)
        .select("doc_a", "doc_b", "jacc")
        .orderBy("doc_a", "doc_b")
    )


# Graph-analytics consumers (triangles, PageRank) re-read the SAME
# edge set several times per query — and a lazy DataFrame re-runs the
# whole postings-join pipeline on every branch (a union of pairs with
# reversed pairs evaluates it twice), so the edge list is a snapshot.
# q_dedup_ngram itself keeps computing live — it IS the declared
# check of this pipeline.


def near_dup_edges(spark, d):
    """(doc_a, doc_b, jacc) edge snapshot."""
    path = snapshot(
        spark, d, "near_dup_edges",
        lambda p: write_parquet(rare_bigram_pairs(spark, d), p),
    )
    return spark.read.parquet(path)


def near_dup_sym(spark, d):
    """Symmetrized (src, dst) view of the memoized near-dup edge
    snapshot (near_dup_edges)."""
    e = near_dup_edges(spark, d).select("doc_a", "doc_b")
    return e.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        e.selectExpr("doc_b AS src", "doc_a AS dst")
    )


def degrees(edges, a, b):
    """(doc_id, dg) degree of each endpoint of an undirected edge list
    with endpoint columns ``a`` and ``b``: the two endpoint columns
    unioned, then one count per doc."""
    return (
        edges.select(F.col(a).alias("doc_id"))
        .unionAll(edges.select(F.col(b).alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
