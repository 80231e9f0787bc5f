"""LLM-pipeline text operators, batch 2: exact n-gram Jaccard
near-dup pairs and rolling-hash document fingerprints.

Complements pipeline.py's sketch-based families (MinHash bands,
SimHash, SRP) with their EXACT counterparts — the forms you run on a
candidate subset, or at moderate corpus sizes, when you need the true
Jaccard rather than a banded estimate. The n-gram pair join and the
near-dup graph built on it live in bigrams.py, the rolling hash in
rolling_hash.py.

Scale notes: the n-gram join is a postings join (doc x gram), never a
doc x doc cartesian; hot grams are capped by a document-frequency
filter exactly like stop-shingle removal, which bounds any posting
list's pair fan-out at C(cap, 2); the rolling-hash fingerprint is a
Generate + hash agg, one shuffle on doc_id.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import DEC
from .bigrams import (
    BIGRAM_PAIRS_CTES,
    NEAR_DUP_EDGES_CTES,
    NEAR_DUP_TAU,
    near_dup_edges,
    rare_bigram_pairs,
)
from .rolling_hash import ROLL_HASHES_CTES, ROLL_K, rolling_hash_arrays


@query(
    "q_dedup_ngram",
    oracle=f"""
        WITH {BIGRAM_PAIRS_CTES}
        SELECT doc_a, doc_b, jacc FROM pairs
        WHERE jacc >= {NEAR_DUP_TAU}
        ORDER BY doc_a, doc_b
    """,
)
def q_dedup_ngram(spark, d):
    """Exact word-bigram Jaccard near-dup pairs at tau=0.4 over
    DF-capped grams. |A .. B| comes from a postings self-join on the
    gram (equi-join, one shuffle on g, fan-out bounded by DF_CAP);
    |A u B| = |A| + |B| - |A .. B| from per-doc gram counts. The
    ratio is rounded to 6 BEFORE the threshold on both engines, so
    the boundary pair set is identical. This is the exact-verify
    stage MinHash banding (q_dedup_minhash) approximates."""
    return rare_bigram_pairs(spark, d)


@query(
    "q_text_fingerprint_rolling",
    oracle=f"""
        WITH {ROLL_HASHES_CTES}
        SELECT doc_id,
               MIN(h) AS fp_min,
               COUNT(DISTINCT h) AS n_distinct_grams,
               COUNT(*) AS n_grams
        FROM hashes
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def q_text_fingerprint_rolling(spark, d):
    """Rolling-hash document fingerprinting: a base-256 polynomial
    over every 5-char window (the Rabin-Karp/winnowing primitive),
    reduced to a per-doc min-hash fingerprint + gram cardinalities.
    Fingerprinting is per-document LOCAL, so the whole computation
    stays in-row: one codes array per doc (rolling_hash_arrays),
    then array_min / array_distinct / size — zero shuffles, zero
    explode, no Python. 4.7x faster than the exploded-positions +
    per-position substr form it replaces (8.5 s -> 1.8 s at sf0.1;
    substr seeks are O(i), see the helper). spread=True parallelizes
    the per-doc interpreted hash-array build across cores (r17: the
    1-row-group fixture ran it in one scan task — 1.92 s → 0.71 s at
    sf0.1; no-op on splittable production inputs)."""
    docs = load(spark, d, "documents", spread=True)
    hs = rolling_hash_arrays(docs)
    return hs.select(
        "doc_id",
        F.expr("array_min(hs)").alias("fp_min"),
        F.expr("size(array_distinct(hs))").cast("long").alias("n_distinct_grams"),
        F.expr("size(hs)").cast("long").alias("n_grams"),
    ).orderBy("doc_id")


@query(
    "q_emb_centroid",
    oracle="""
        WITH idx AS (
            SELECT label, embedding AS e,
                   unnest(generate_series(1, len(embedding))) AS dim
            FROM embeddings
        )
        SELECT label, dim,
               ROUND(CAST(SUM(CAST(CAST(e[dim] AS DOUBLE) AS DECIMAL(30,10)))
                          AS DOUBLE) / COUNT(*), 6) AS centroid,
               COUNT(*) AS n
        FROM idx
        GROUP BY label, dim
        ORDER BY label, dim
    """,
)
def q_emb_centroid(spark, d):
    """Per-class embedding centroids — the training-pipeline primitive
    behind nearest-centroid classifiers, class-balanced sampling, and
    IVF coarse quantizer seeding. posexplode flattens (vector ->
    dim, value) JVM-side, then ONE hash agg on (label, dim) computes
    all centroids: the shuffle carries (label, dim, partial sums) —
    64 x |labels| cells regardless of corpus size, so this aggregates
    100 TB of embeddings into KBs. Float values widen to double before
    the exact-decimal sum on both engines (float32 -> float64 is
    value-preserving, so the hashes agree)."""
    emb = load(spark, d, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "label",
            (F.col("pos") + 1).alias("dim"),
            F.col("val").cast("double").alias("v"),
        )
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1)), 6
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label", "dim")
    )


@query(
    "q_fuzzy_join",
    oracle="""
        WITH names AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM names a
        JOIN names b
          ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
         AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 3
        ORDER BY name_a, name_b
    """,
)
def q_fuzzy_join(spark, d):
    """Fuzzy (edit-distance) self-join over part names: candidate
    pairs come from an EQUI-join on a blocking key (the noun token),
    and levenshtein evaluates only within blocks — the standard
    entity-resolution shape. An unblocked similarity join is a
    cartesian (n^2 edit distances); blocking bounds the fan-out at
    sum_b C(|b|, 2) and keeps the join hash-based. At corpus scale
    the blocking key generalizes to phonetic/sorted-token keys, same
    plan."""
    names = load(spark, d, "part").select("p_name").distinct()
    block = F.element_at(F.split(F.col("p_name"), " "), 2)
    a = names.select(F.col("p_name").alias("name_a"), block.alias("blk"))
    b = names.select(F.col("p_name").alias("name_b"), block.alias("blk"))
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


@query(
    "q_text_winnow",
    oracle=f"""
        WITH {ROLL_HASHES_CTES},
        winnowed AS (
            SELECT doc_id,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS wmin,
                   i,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n
            FROM hashes
        )
        SELECT doc_id,
               COUNT(DISTINCT wmin) AS n_fingerprints,
               MIN(wmin) AS fp_min
        FROM winnowed
        WHERE i <= n - 3
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def q_text_winnow(spark, d):
    """Full winnowing fingerprints (Schleimer et al.'s moss
    primitive): the min rolling hash in every window of 4 consecutive
    5-gram hashes, deduplicated per document. Guarantees a shared
    fingerprint for any match of length >= 8 chars — the locality
    property plain min-hashing (q_text_fingerprint_rolling) lacks.
    Winnowing is per-document LOCAL, so no shuffle is needed at all:
    the hash array stays in-row and the window-min is a transform
    with four O(1) lookups (wmins references hs 4x, so it is not
    inlined — see rolling_hash_arrays). Replaces a doc-partitioned
    window + hash agg (two shuffles, 7.6 s at sf0.1) with a pure
    projection (~1.5 s). Docs shorter than K+3 chars have no full
    window and correctly emit nothing (sequence() would count DOWN
    for them, hence the explicit length guard).

    Measured alternative: an Arrow/numpy mapInPandas winnow (per-doc
    sliding_window_view matmul) produces identical values ~1 s faster
    at sf0.1 — kept OUT because that ~1 s is constant-per-row
    interpreted-HOF overhead, while the zero-Python projection keeps
    the operator inside codegen'd plans (no Python workers to
    size/schedule at 100 TB) and keeps the plan property tests
    meaningful. spread=True parallelizes the per-doc interpreted hash
    transforms across cores (r17: the 1-row-group fixture ran the
    whole projection in one scan task — 2.2 s → 0.9 s at sf0.1)."""
    docs = load(spark, d, "documents", spread=True).filter(
        F.length("text") >= ROLL_K + 3
    )
    hs = rolling_hash_arrays(docs)
    wmins = hs.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(hs) - 3), i -> "
            "least(element_at(hs, i), element_at(hs, i + 1), "
            "      element_at(hs, i + 2), element_at(hs, i + 3)))"
        ).alias("wmins"),
    )
    return wmins.select(
        "doc_id",
        F.expr("size(array_distinct(wmins))").cast("long").alias("n_fingerprints"),
        F.expr("array_min(wmins)").alias("fp_min"),
    ).orderBy("doc_id")


# ROUND-safe: the only ROUND is the edge threshold in
# NEAR_DUP_EDGES_CTES (ROUND(jacc,6) >= NEAR_DUP_TAU) — the
# driver-PROVEN q_dedup_ngram predicate (pass r4) over the SAME pair
# set; the output columns are pure integer doc ids.
@query(
    "q_graph_triangles",
    oracle=f"""
        WITH {NEAR_DUP_EDGES_CTES}
        SELECT e1.doc_a AS doc_a, e1.doc_b AS doc_b, e2.doc_b AS doc_c
        FROM edges0 e1
        JOIN edges0 e2 ON e2.doc_a = e1.doc_b
        JOIN edges0 e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        ORDER BY doc_a, doc_b, doc_c
    """,
)
def q_graph_triangles(spark, d):
    """Triangle enumeration on the near-duplicate graph — the graph
    primitive behind clustering-coefficient / community QA of a dup
    graph (a triangle means three documents that are all pairwise
    near-dups; sparse triangles with many edges signal chained
    false-positive pairs). Edges are the oriented (u < v) exact
    Jaccard pairs (rare_bigram_pairs); the count comes from the
    standard two-equi-join oriented enumeration: wedges u→v→w from
    edges⋈edges on the middle vertex, closed by a join back to the
    edge set — each triangle found exactly once (u < v < w), work
    bounded by Σ wedge counts, never a cube of the vertex set. At
    100 TB the same plan holds with the usual degree-ordering
    refinement; every join here is a key equi-join Catalyst shuffles
    on (u) / (u, v)."""
    # The edge relation feeds three join sides; the parquet snapshot
    # (near_dup_edges) makes every branch a cheap file re-read instead
    # of re-running the postings join per branch.
    e = near_dup_edges(spark, d).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    e1 = e.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    e2 = e.select(F.col("u").alias("doc_b"), F.col("v").alias("doc_c"))
    e3 = e.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_c"))
    return (
        e1.join(e2, "doc_b")
        .join(e3, ["doc_a", "doc_c"])
        .select("doc_a", "doc_b", "doc_c")
        .orderBy("doc_a", "doc_b", "doc_c")
    )
