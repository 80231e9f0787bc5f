"""LLM-data-pipeline operators (SURVEY.md §2B 'LLM-data-pipeline
extensions'): dedup (exact, MinHash-LSH, fingerprint), similarity
search (brute top-k, thresholded all-pairs), text analytics (stats,
TF-IDF, quality), multimodal joins.

Scale posture (the reason these shapes were chosen):
- exact dedup: one hash-groupBy, partial-agg friendly, no window.
- minhash dedup: LSH band join (operators/lsh.py) — candidate
  generation is ~linear; the O(n²) exact verifier only sees
  candidates. Never an all-pairs product.
- knn: broadcast the single query row, fold JVM-side, top-k via
  TakeOrderedAndProject — no shuffle except the final k.
- pairs ≥ τ: block-matmul self-join (operators/similarity.py) —
  exact, evenly distributed, memory-bounded tasks.
- text analytics: split/explode + hash aggs; everything partial-agg
  first, single shuffle per logical step.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.lsh import band_pairs, near_dup_pairs
from ..operators.similarity import cosine_pairs, cosine_topk
from ..registry import query
from ..sources.io import load
from ._helpers import h56, sql_h56
from .grams import word_grams, word_grams_sql
from .shingles import (
    DUP_COMPONENTS_CTES,
    NEAR_DUP_J,
    SHINGLE_JACCARD_SQL,
    SHINGLES_SQL,
    dup_components,
)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

@query(
    "q_dedup_exact",
    oracle="""
        SELECT sha256(lower(trim(text))) AS text_hash,
               min(doc_id) AS keeper_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY 1
    """,
)
def q_dedup_exact(spark, d):
    """Exact dedup by normalized-text hash: one hash aggregation, the
    canonical keeper is min(doc_id). Aggregation-shaped (partial agg +
    one shuffle on the 256-bit key) rather than window-shaped — at
    100 TB a row_number() window over the hash would sort inside every
    hash partition for no benefit."""
    docs = load(spark, d, "documents")
    return (
        docs.groupBy(F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "q_dedup_minhash",
    oracle=f"""
        WITH {SHINGLES_SQL}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND({SHINGLE_JACCARD_SQL}, 6) AS jaccard
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND {SHINGLE_JACCARD_SQL} >= {NEAR_DUP_J}
    """,
)
def q_dedup_minhash(spark, d):
    """Near-dup pairs via MinHash-LSH band join + exact-Jaccard verify
    (3-word shingles, J ≥ 0.8). Declared: the oracle brute-forces exact
    Jaccard, and the LSH miss probability at J ≥ 0.8 with 32×4 banding
    is (1-0.8⁴)^32 ≈ 3e-9 — the fixture's planted dups sit at J ≥ 0.9
    with a clean gap to the ~0.2 noise floor."""
    # spread: shingle explode + band hashing ran in ONE scan task on
    # the 1-row-group fixture (r18 spread batch 5: ~1.45 -> ~1.10 s)
    docs = load(spark, d, "documents", spread=True)
    pairs = near_dup_pairs(docs, "doc_id", "text", jaccard_threshold=NEAR_DUP_J)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "q_dedup_fingerprint",
    oracle="""
        WITH fp AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(
                     string_split(lower(trim(text)), ' '))), ' ')) AS fingerprint
          FROM documents
        )
        SELECT fingerprint, min(doc_id) AS keeper_id,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM fp GROUP BY 1 HAVING count(*) > 1
    """,
)
def q_dedup_fingerprint(spark, d):
    """Bag-of-words fingerprint dedup: docs collapsing to the same
    sorted-distinct-word-set hash are duplicates regardless of word
    order/repetition. Same single-shuffle aggregation shape as exact
    dedup; HAVING>1 keeps only real duplicate groups."""
    docs = load(spark, d, "documents")
    fp = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), " "))),
            " ",
        )
    )
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@query(
    "q_sim_knn_brute",
    oracle="""
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                   q.qv), 6) AS cos
        FROM embeddings e,
             (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id = 0) q
        ORDER BY cos DESC, e.vec_id
        LIMIT 10
    """,
)
def q_sim_knn_brute(spark, d):
    """Brute-force cosine top-10 of the vec_id=0 query vector. Cosine
    is rounded to 6 *before* ordering on both sides so last-ulp float
    noise cannot flip the (cos, vec_id) tie-break."""
    emb = load(spark, d, "embeddings")
    return cosine_topk(
        emb,
        emb.filter(F.col("vec_id") == 0),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
    )


@query(
    "q_sim_pairs_threshold",
    oracle="""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    """,
)
def q_sim_pairs_threshold(spark, d):
    """All embedding pairs with cosine ≥ 0.4, exact, via the
    block-matmul self-join (operators/similarity.py) — bucketed tasks
    each solving one BLAS sub-matrix, never a row-at-a-time cartesian.
    τ=0.4 because the fixture embeddings are isotropic (max pairwise
    cos ≈ 0.46); at production near-dup thresholds the LSH banding
    path replaces the exact search."""
    emb = load(spark, d, "embeddings")
    pairs = cosine_pairs(emb, "vec_id", "embedding", threshold=0.4, buckets=8)
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


# --------------------------------------------------------------------------
# Text analytics
# --------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle="""
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
                   AS n_uniq,
               ROUND(length(replace(text, ' ', ''))::DOUBLE
                     / len(string_split(text, ' ')), 6) AS avg_word_len
        FROM documents
    """,
)
def q_text_stats(spark, d):
    """Per-document token statistics: token count, distinct-token
    count, average word length — all codegen'd string/array
    expressions, zero Python, zero shuffles (pure projection)."""
    docs = load(spark, d, "documents")
    toks = F.split(F.col("text"), " ")
    non_space = F.length(F.regexp_replace(F.col("text"), " ", ""))
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.round(non_space.cast("double") / F.size(toks), 6).alias("avg_word_len"),
    )


@query(
    "q_text_tfidf",
    oracle="""
        WITH words AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
          FROM documents
        ), tf AS (
          SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
          FROM words GROUP BY lang, word
        ), df AS (
          SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
          FROM words GROUP BY word
        ), n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.lang, tf.word, tf.cnt, df.doc_freq,
                 ROUND(tf.cnt * ln(n.n_docs::DOUBLE / df.doc_freq), 6) AS tfidf,
                 row_number() OVER (PARTITION BY tf.lang
                                    ORDER BY tf.cnt DESC, tf.word) AS rk
          FROM tf JOIN df USING (word) CROSS JOIN n
        )
        SELECT lang, word, cnt, doc_freq, tfidf, CAST(rk AS INTEGER) AS rk
        FROM scored WHERE rk <= 5
    """,
)
def q_text_tfidf(spark, d):
    """Top-5 terms per language by term frequency, with TF-IDF score.
    Pure relational: explode → two hash aggs (tf per (lang,word), df
    per word) → broadcast-join the small df/count sides → per-lang
    top-k window. Ranking key is (cnt DESC, word) — integer-based, so
    the float tfidf value never decides ordering."""
    docs = load(spark, d, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    tf = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("cnt"))
    df_ = words.groupBy("word").agg(F.countDistinct("doc_id").alias("doc_freq"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("cnt") * F.log(F.col("n_docs") / F.col("doc_freq")), 6),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "word", "cnt", "doc_freq", "tfidf", "rk")
    )


@query(
    "q_text_quality",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               ROUND(len(list_filter(string_split(text, ' '),
                                     w -> w IN ('a', 'the')))::DOUBLE
                     / len(string_split(text, ' ')), 6) AS stopword_ratio,
               ROUND(len(list_distinct(string_split(text, ' ')))::DOUBLE
                     / len(string_split(text, ' ')), 6) AS uniq_ratio,
               CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 200
                         AND len(list_distinct(string_split(text, ' ')))::DOUBLE
                             / len(string_split(text, ' ')) > 0.2
                    THEN 'keep' ELSE 'drop' END AS verdict
        FROM documents
    """,
)
def q_text_quality(spark, d):
    """Heuristic quality scoring for pretraining filtering: length
    band, stopword ratio, vocabulary diversity → keep/drop verdict.
    Pure projection (no shuffle); the thresholds mirror common
    pretraining-corpus filters (length + repetition)."""
    docs = load(spark, d, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    stop_ratio = (
        F.size(F.filter(toks, lambda w: w.isin("a", "the"))).cast("double") / n
    )
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.when(n.between(20, 200) & (uniq_ratio > 0.2), "keep")
        .otherwise("drop")
        .alias("verdict"),
    )


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------


@query(
    "q_multimodal_cols",
    oracle="""
        SELECT d.doc_id, d.lang, d.n_chars, e.label,
               CAST(len(e.embedding) AS INTEGER) AS dim,
               ROUND(CAST(e.embedding[1] AS DOUBLE), 6) AS e0
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE e.label < 5 AND d.lang IN ('en', 'de')
    """,
)
def q_multimodal_cols(spark, d):
    """Mixed-modality row: text metadata ⋈ vector columns on
    doc_id = vec_id, filtered on both modalities. Embeddings are 1:1
    with documents — NOT a dim table — so broadcasting them melts the
    driver at corpus scale. Instead both tables are materialized
    co-bucketed on the join key (sources/io.bucketed_doc_emb, the
    one-time-ETL posture) and the hinted sort-merge join runs with
    zero Exchange and zero Sort (asserted in tests/test_plans.py)."""
    from ..sources.io import bucketed_doc_emb

    docs, emb = bucketed_doc_emb(spark, d)
    return (
        docs.join(emb.hint("merge"), docs.doc_id == emb.vec_id)
        .filter((F.col("label") < 5) & F.col("lang").isin("en", "de"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "label",
            F.size("embedding").alias("dim"),
            F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
        )
    )


# --------------------------------------------------------------------------
# Additional dedup / ANN / text operators (task-spec extensions)
# --------------------------------------------------------------------------


# SimHash parameters, shared by the Spark body and the DuckDB oracle.
# 56-bit signatures (7 bytes): the gram hash is the first 14 hex chars
# of md5(gram) — the digest is identical on both engines, 14 hex chars
# = exactly 56 bits so the parse can never overflow int64, and md5 is
# whole-stage-codegen JVM-side (measured ~3× faster than an
# interpreted per-codepoint fold at sf0.1).
SIMHASH_BITS = 56
SIMHASH_HAMMING = 6


def simhash_sigs(spark, d):
    """Shared 56-bit SimHash signature relation (doc_id, sig): md5-head
    gram hashes, per-bit majority in ONE wide codegen agg — used by
    q_dedup_simhash (banded pairs at Hamming ≤ 6) and
    q_dedup_simhash_hist (the full banded-candidate histogram,
    pipeline31). NOT persisted on purpose: Catalyst reuses the
    aggregation exchange across the band self-join (ReusedExchange);
    an explicit persist measured 2.3× slower (CLAUDE.md trap)."""
    grams = word_grams(load(spark, d, "documents"), 3, sep="_")
    gh = grams.select(
        "doc_id",
        h56("g").alias("h"),
    )
    # per-bit majority in one wide hash agg: 56 conditional sums + n,
    # all whole-stage codegen, partial aggregation map-side
    ones = [
        F.sum(
            F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1))
        ).alias(f"c{b}")
        for b in range(SIMHASH_BITS)
    ]
    counts = gh.groupBy("doc_id").agg(*ones, F.count(F.lit(1)).alias("n"))
    sig_expr = None
    for b in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"c{b}") * 2 > F.col("n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig_expr = term if sig_expr is None else sig_expr + term
    # NOT persisted: Catalyst reuses the aggregation exchange for the
    # band self-join (ReusedExchange), so the grams→md5→majority
    # pipeline runs once anyway; an explicit persist breaks that reuse
    # and measured 2.3× slower at sf0.1
    return counts.select("doc_id", sig_expr.alias("sig"))


# sig mirrors simhash_sigs (doc_id, sig): grams -> gh -> bits -> sig
SIMHASH_SIG_CTES = f"""grams AS ({word_grams_sql("documents", 3, sep="_")}
        ), gh AS (
          SELECT doc_id, {sql_h56("g")} AS h FROM grams
        ), bits AS (
          SELECT doc_id, b,
                 COUNT(*) FILTER (WHERE ((h >> b) & 1) = 1) AS ones,
                 COUNT(*) AS n
          FROM gh, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b)
          GROUP BY doc_id, b
        ), sig AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN ones * 2 > n
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                      AS BIGINT) AS sig
          FROM bits GROUP BY doc_id
        )"""


def simhash_candidates(spark, d):
    """Distinct SimHash band candidates ``(id_a < id_b, sig_a, sig_b)``
    from one band per signature byte — the 7-byte banding of
    q_dedup_simhash and q_dedup_simhash_hist."""
    bands = simhash_sigs(spark, d).select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("byte_idx"),
                        F.shiftrightunsigned(F.col("sig"), i * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("byte_val"),
                    )
                    for i in range(7)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "sig", "band.byte_idx", "band.byte_val")
    return band_pairs(bands, "doc_id", ["byte_idx", "byte_val"], carry=["sig"])


@query(
    "q_dedup_simhash",
    oracle=f"""
        WITH {SIMHASH_SIG_CTES}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= {SIMHASH_HAMMING}
        ORDER BY id_a, id_b
    """,
)
def q_dedup_simhash(spark, d):
    """SimHash near-dup pairs, fully portable and hash-declared
    (promoted from rows-only, VERDICT r5 item 8): 56-bit signatures
    whose per-gram hash is the first 14 hex chars of md5(gram) — the
    digest is engine-independent, so both sides compute identical
    signatures (same determinism posture as rolling_hash.poly_sql's
    rolling hashes, but JVM-codegen instead of an interpreted fold).
    3-gram shingles
    (the MinHash oracle's grain: word sets collapse on the fixture's
    small vocabulary); per-bit majority vote runs as ONE partial-agg-
    friendly hash aggregate whose shuffle carries 56 longs per doc
    regardless of corpus size; then a 7-byte banded candidate join —
    pigeonhole guarantees recall at Hamming ≤ 6 (6 flipped bits
    corrupt ≤ 6 of 7 bytes, so ≥ 1 band matches) — with exact
    bit_count(xor) verification JVM-side. Candidates-never-all-pairs,
    same posture as MinHash; the oracle's O(n²) signature compare is
    the semantic spec the banding provably equals."""
    return (
        simhash_candidates(spark, d)
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


@query("q_sim_ann_ivf")  # rows-only: kmeans coarse quantizer is engine-side
def q_sim_ann_ivf(spark, d):
    """IVF-style approximate nearest neighbors, build/probe split
    (operators/ivf.py, VERDICT r2 item 3): the KMeans coarse quantizer
    + cluster assignment build ONCE per (app, sf_dir) and persist; the
    query scores 16 centroids driver-side, probes the 4 nearest
    inverted lists, and brute-forces cosine only inside them (~4/16 of
    the data, no KMeans.fit in the query body). The scale path for ANN
    when LSH recall at low thresholds is poor; exact top-k
    (q_sim_knn_brute) is the recall oracle."""
    from ..operators.ivf import ivf_build, ivf_probe

    emb = load(spark, d, "embeddings")
    assigned, centers = ivf_build(
        spark, emb, "vec_id", "embedding", cache_key=d, k=16
    )
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return ivf_probe(assigned, centers, qrow["embedding"], nprobe=4, topk=10)


@query(
    "q_text_langid",
    oracle="""
        WITH s AS (
          SELECT doc_id, lang,
                 CAST(len(list_filter(string_split(text,' '),
                      w -> w IN ('the','and','of','a'))) AS INTEGER) AS s_en,
                 CAST(len(list_filter(string_split(text,' '),
                      w -> w IN ('der','die','und','das'))) AS INTEGER) AS s_de,
                 CAST(len(list_filter(string_split(text,' '),
                      w -> w IN ('el','la','los','que'))) AS INTEGER) AS s_es,
                 CAST(len(list_filter(string_split(text,' '),
                      w -> w IN ('le','la','les','et'))) AS INTEGER) AS s_fr,
                 CAST(len(list_filter(string_split(text,' '),
                      w -> w IN ('的','了','是','在'))) AS INTEGER) AS s_zh
          FROM documents
        )
        SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
               CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS predicted
        FROM s
    """,
)
def q_text_langid(spark, d):
    """Heuristic language-ID: function-word marker counts per language
    + priority-ordered argmax (functions/text.py profiles). The
    fixture vocabulary is synthetic so predictions degenerate to the
    tie-priority — the declared check still pins the full scoring +
    argmax machinery against SQL."""
    from ..functions.text import lang_scores

    docs = load(spark, d, "documents")
    scores = lang_scores(F.col("text"))
    s = docs.select(
        "doc_id",
        "lang",
        *[v.alias(f"s_{k}") for k, v in scores.items()],
    )
    pred = (
        F.when(
            F.col("s_en") >= F.greatest("s_de", "s_es", "s_fr", "s_zh"), "en"
        )
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr", "s_zh"), "de")
        .when(F.col("s_es") >= F.greatest("s_fr", "s_zh"), "es")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return s.withColumn("predicted", pred)


@query(
    "q_text_tokens",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens
        FROM documents
    """,
)
def q_text_tokens(spark, d):
    """Token counting two ways: whitespace words and a BPE-ish
    pre-tokenization regex (word runs | single symbols) — the count a
    GPT-style tokenizer's split stage would produce, before merges
    (functions/text.py TOKEN_RE)."""
    from ..functions.text import token_count

    docs = load(spark, d, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        token_count(F.col("text"), bpe=True).alias("bpe_tokens"),
    )


@query("q_multimodal_decode")  # rows-only: stubbed decoder (no PIL in env)
def q_multimodal_decode(spark, d):
    """Binary-column multimodal pipeline: documents wrapped as opaque
    payload + typed metadata (multimodal/columns.py), then
    Arrow-batched decode → per-image features (mean intensity, byte
    entropy, 8×8 average-hash) via mapInPandas. The decoder is a
    clearly-marked deterministic stub (no image codecs in this
    container); schema, batch shape, and plan are the real thing."""
    from ..multimodal import as_media, extract_features

    docs = load(spark, d, "documents")
    return extract_features(as_media(docs, "doc_id", "text"))


@query(
    "q_dedup_embedding",
    oracle="""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), dropped AS (
          SELECT DISTINCT b.vec_id
          FROM e a, e b
          WHERE a.vec_id < b.vec_id
            AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        )
        SELECT e.vec_id FROM e
        LEFT JOIN dropped d ON e.vec_id = d.vec_id
        WHERE d.vec_id IS NULL
    """,
)
def q_dedup_embedding(spark, d):
    """Embedding-cosine near-dup dedup: drop every vector that has a
    lower-id neighbor with cosine ≥ τ; keep the rest. Pair discovery
    reuses the block-matmul operator; the keep-set is an anti-join on
    the dropped ids. (τ=0.4 stands in for the production 0.95+ — the
    fixture embeddings are isotropic.)"""
    emb = load(spark, d, "embeddings")
    pairs = cosine_pairs(emb, "vec_id", "embedding", threshold=0.4, buckets=8)
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return emb.select("vec_id").join(dropped, "vec_id", "left_anti")


def planted_embeddings(spark, d):
    """(vec_id, embedding): the embeddings plus a scaled copy
    (vec_id + 1e6, 2·v) of every 20th vector — the planted near-dups
    of the embedding-LSH dedup tier (q_dedup_embedding_lsh,
    q_dedup_semantic_cluster)."""
    emb = load(spark, d, "embeddings")
    copies = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias(
            "embedding"
        ),
    )
    return emb.select("vec_id", "embedding").unionByName(copies)


@query(
    "q_dedup_embedding_lsh",
    oracle="""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), planted AS (
          SELECT vec_id, v FROM e
          UNION ALL
          SELECT vec_id + 1000000 AS vec_id,
                 list_transform(v, x -> x * 2.0) AS v
          FROM e WHERE vec_id % 20 = 0
        ), dropped AS (
          SELECT DISTINCT b.vec_id
          FROM planted a, planted b
          WHERE a.vec_id < b.vec_id
            AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.98
        )
        SELECT p.vec_id FROM planted p
        LEFT JOIN dropped d ON p.vec_id = d.vec_id
        WHERE d.vec_id IS NULL
    """,
)
def q_dedup_embedding_lsh(spark, d):
    """Embedding near-dup dedup on the SRP-LSH sublinear path
    (operators/lsh.py) at a production-style τ=0.98 — banded candidate
    join, exact-cosine verify on candidates only, NO all-pairs stage
    (plan-asserted in tests/test_plans.py). The fixture embeddings are
    isotropic (max pairwise cos ≈ 0.46), so the query plants scaled
    copies (vec_id+1e6, 2·v) of every 20th vector in-query; sign
    signatures are scale-invariant, so each planted copy collides with
    its source in every band and the declared keep-set is
    deterministic. The oracle is the exact O(n²) dedup over the same
    planted relation; q_dedup_embedding (exact block-matmul, τ=0.4)
    stays as the low-τ recall oracle."""
    from ..operators.lsh import srp_near_dup_pairs

    planted = planted_embeddings(spark, d)
    pairs = srp_near_dup_pairs(planted, "vec_id", "embedding", threshold=0.98)
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return planted.select("vec_id").join(dropped, "vec_id", "left_anti")


@query(
    "q_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE {DUP_COMPONENTS_CTES}
        SELECT src AS doc_id, min(dst) AS cluster_id,
               CAST(count(DISTINCT dst) AS BIGINT) AS component_size
        FROM reach GROUP BY src
    """,
)
def q_dedup_clusters(spark, d):
    """Transitive near-dup clustering: MinHash-LSH pairs → connected
    components via min-label propagation with pointer jumping
    (operators/components.py) — the step that turns pairwise matches
    into keep-one-per-cluster dedup. The component assignment comes
    from the memoized ``dup_components`` snapshot shared with
    q_dedup_canonical. Declared against DuckDB's recursive-CTE
    transitive closure; component_size counts the member set so
    singleton docs (size 1) are distinguishable."""
    comp = dup_components(spark, d)
    # component_size via a cluster-partitioned window: one shuffle on
    # cluster_id, no second relation. The former broadcast(sizes) join
    # was a scale killer — #clusters grows with the corpus (most docs
    # are singletons), so the "small" side is within a constant of the
    # full table at 100 TB (VERDICT r3 "What's wrong" #1).
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("component_size"),
    )
