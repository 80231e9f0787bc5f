"""LLM-pipeline text operators, batch 2: exact n-gram Jaccard
near-dup pairs and rolling-hash document fingerprints.

Complements pipeline.py's sketch-based families (MinHash bands,
SimHash, SRP) with their EXACT counterparts — the forms you run on a
candidate subset, or at moderate corpus sizes, when you need the true
Jaccard rather than a banded estimate.

Scale notes: the n-gram join is a postings join (doc x gram), never a
doc x doc cartesian; hot grams are capped by a document-frequency
filter exactly like stop-shingle removal, which bounds any posting
list's pair fan-out at C(cap, 2); the rolling-hash fingerprint is a
Generate + hash agg, one shuffle on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load, snapshot, write_parquet
from ._helpers import DEC

# Word bigrams present in more than DF_CAP documents are dropped from
# BOTH sides (stop-gram removal): a gram in k docs fans out C(k,2)
# candidate pairs, so the cap bounds the postings join while barely
# moving Jaccard on near-dups (stop-grams carry no identity signal).
DF_CAP = 100

_BIGRAMS_SQL = f"""
        words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                FROM words),
        grams AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS g FROM idx),
        rare AS (
            SELECT doc_id, g FROM grams
            WHERE g IN (SELECT g FROM grams GROUP BY g
                        HAVING COUNT(*) <= {DF_CAP})
        )
"""


def rare_grams(spark, d, with_df=False):
    """DF-capped distinct word bigrams per doc — (doc_id, g). The
    shared postings relation under bigram_overlap and the round-9
    minhash-containment eval (pipeline15). ``with_df=True`` keeps the
    per-gram document frequency the cap already computed (the IDF
    weighting tier in pipeline36 needs it; recomputing would cost a
    second shuffle on g)."""
    docs = load(spark, d, "documents")
    # Tokenize ONCE into a column (an embedded split() inside the
    # interpreted transform re-runs per element — O(n²)/doc), and
    # explode_outer (plain explode pushes a pruning filter that
    # re-evaluates the whole gram transform inside the scan).
    w = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 2
    )
    grams = w.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "  i -> concat(element_at(w, i), ' ', "
                    "              element_at(w, i + 1)))"
                )
            )
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    # window-count keeps the DF cap at one shuffle on g (vs agg+join = two)
    capped = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    ).filter(F.col("df") <= DF_CAP)
    return capped if with_df else capped.drop("df")


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
    """Exact word-bigram Jaccard pairs (doc_a < doc_b, jacc >= 0.4)
    over DF-capped grams — the shared edge set for q_dedup_ngram and
    the graph analytics built on the near-dup graph
    (q_graph_triangles, q_graph_pagerank)."""
    jacc = F.round(
        F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6
    )
    return (
        bigram_overlap(spark, d)
        .withColumn("jacc", jacc)
        .filter(F.col("jacc") >= 0.4)
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


@query(
    "q_dedup_ngram",
    oracle=f"""
        WITH {_BIGRAMS_SQL},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        )
        SELECT i.doc_a, i.doc_b,
               ROUND(i.c * 1.0 / (sa.n + sb.n - i.c), 6) AS jacc
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE ROUND(i.c * 1.0 / (sa.n + sb.n - i.c), 6) >= 0.4
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


# 5-char rolling window, base-256 polynomial over codepoints: fits
# int64 exactly (max codepoint 0x10FFFF * 256^4 < 2^53 < 2^63), so
# both engines compute identical hashes with plain integer math.
_K = 5


def _poly_sql(col: str, i: str) -> str:
    return " + ".join(
        f"ascii(substr({col}, {i} + {j}, 1)) * {256 ** (_K - 1 - j)}"
        for j in range(_K)
    )


def _rolling_hash_arrays(docs):
    """(doc_id, hs) where hs[i] is the base-256 polynomial hash of the
    5-gram starting at codepoint i (1-based) — same values as
    _poly_sql, different evaluation shape. substr(text, i, 1) is an
    O(i) codepoint seek on Spark's UTF8String, so hashing via
    per-position substr is O(len^2) per document (measured 8.5 s at
    sf0.1); splitting to a codes array once is O(len) and each gram
    is then five O(1) element_at lookups (1.8 s). codes/hs are
    referenced >=5x by their consumers, so CollapseProject keeps them
    materialized per row instead of inlining the transform into the
    consuming lambda (which would be O(len) per element again)."""
    codes = docs.filter(F.length("text") >= _K).select(
        "doc_id",
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("codes"),
    )
    gram = " + ".join(
        f"element_at(codes, i + {j}) * {256 ** (_K - 1 - j)}L" for j in range(_K)
    )
    return codes.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(codes) - {_K - 1}), i -> {gram})"
        ).alias("hs"),
    )


@query(
    "q_text_fingerprint_rolling",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, len(text) - {_K - 1})) AS i
            FROM documents
            WHERE len(text) >= {_K}
        ),
        hashes AS (
            SELECT doc_id, ({_poly_sql("text", "i")}) AS h FROM pos
        )
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
    stays in-row: one codes array per doc (_rolling_hash_arrays),
    then array_min / array_distinct / size — zero shuffles, zero
    explode, no Python. 4.7x faster than the exploded-positions +
    per-position substr form it replaces (8.5 s -> 1.8 s at sf0.1;
    substr seeks are O(i), see the helper). spread=True parallelizes
    the per-doc interpreted hash-array build across cores (r17: the
    1-row-group fixture ran it in one scan task — 1.92 s → 0.71 s at
    sf0.1; no-op on splittable production inputs)."""
    docs = load(spark, d, "documents", spread=True)
    hs = _rolling_hash_arrays(docs)
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
        WITH pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, len(text) - {_K - 1})) AS i
            FROM documents
            WHERE len(text) >= {_K}
        ),
        hashes AS (
            SELECT doc_id, i, ({_poly_sql("text", "i")}) AS h FROM pos
        ),
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
    inlined — see _rolling_hash_arrays). Replaces a doc-partitioned
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
        F.length("text") >= _K + 3
    )
    hs = _rolling_hash_arrays(docs)
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


# ROUND-safe: the only ROUND here is the edge threshold
# ROUND(jacc,6) >= 0.4 — byte-identical to the driver-PROVEN
# q_dedup_ngram predicate (pass r4) over the SAME pair set; the
# output columns are pure integer doc ids.
@query(
    "q_graph_triangles",
    oracle=f"""
        WITH {_BIGRAMS_SQL},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ),
        edges AS (
            SELECT i.doc_a AS u, i.doc_b AS v
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE ROUND(i.c * 1.0 / (sa.n + sb.n - i.c), 6) >= 0.4
        )
        SELECT e1.u AS doc_a, e1.v AS doc_b, e2.v AS doc_c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
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
