"""LLM-pipeline operators, batch 5 (round 5): the training-mix
assembly tail — sequence packing into fixed context windows,
temperature-scaled source mixing, intra-document repetition scoring,
and per-class embedding outlier detection.

These are the last steps before tokens hit the trainer: decide the
source mix (temperature sampling), drop degenerate documents
(repetition), pack survivors into context windows (packing), and QA
the embedding space used for curation decisions (outliers).

Scale notes per query; the shared theme: packing is a per-shard
window cumsum (shard count scales with the cluster — never a global
order); mixing weights come from a source-cardinality aggregate that
is genuinely tiny (#sources, not #docs) and is the ONE broadcast
here; repetition is explode + one combinable hash agg; outliers go
through (label, dim) moment aggregation — 640 centroid cells
regardless of corpus size — with every floating sum on the exact
decimal path so both engines agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.vectors import as_double_array
from ..registry import query
from ..sources.io import load
from ._helpers import DEC
from .grams import word_grams, word_grams_sql

# --------------------------------------------------------------------------
# Sequence packing (context-window assembly)
# --------------------------------------------------------------------------

PACK_WINDOW = 512  # tokens per training sequence
PACK_SHARDS = 8  # parallel packing streams per source


@query(
    "q_pack_sequences",
    oracle=f"""
        WITH t AS (
          SELECT source,
                 doc_id % {PACK_SHARDS} AS shard,
                 doc_id,
                 len(string_split(text, ' ')) AS n_tokens
          FROM documents
        ), c AS (
          SELECT source, shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 COALESCE(sum(n_tokens) OVER (
                   PARTITION BY source, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS cum_before
          FROM t
        )
        SELECT source, CAST(shard AS BIGINT) AS shard, doc_id, n_tokens,
               CAST(cum_before // {PACK_WINDOW} AS BIGINT) AS pack_id,
               CAST(cum_before % {PACK_WINDOW} AS BIGINT) AS pack_offset
        FROM c
        ORDER BY source, shard, doc_id
    """,
)
def q_pack_sequences(spark, d):
    """Concat-style sequence packing (the GPT-pretraining shape):
    documents are concatenated in a deterministic order and sliced
    into fixed {W}-token context windows, so each document lands at
    (pack_id, pack_offset) with documents allowed to straddle window
    boundaries. The packing ORDER is per (source, shard) — shard =
    doc_id % {S} — because a single global concatenation order would
    serialize the whole corpus through one partition; per-shard
    streams keep determinism (shard is content-derived, not
    partition-derived) while scaling the window step to any cluster
    width. Plan: one shuffle on (source, shard), one running-sum
    window per stream, integer arithmetic only — bit-identical on any
    engine. At 100 TB, shard count rises with executor count and the
    cumsum stays a single sorted pass per stream."""
    docs = load(spark, d, "documents")
    t = docs.select(
        "source",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return c.select(
        "source",
        "shard",
        "doc_id",
        "n_tokens",
        (F.col("cum_before") / PACK_WINDOW).cast("long").alias("pack_id"),
        (F.col("cum_before") % PACK_WINDOW).alias("pack_offset"),
    ).orderBy("source", "shard", "doc_id")


# --------------------------------------------------------------------------
# Temperature-scaled source mixing
# --------------------------------------------------------------------------

MIX_TARGET = 200  # target sample size across all sources
# alpha = 0.5: weight ∝ sqrt(count). sqrt is IEEE-754 correctly
# rounded on every engine (unlike pow, whose libm implementations
# differ in ULPs), so the weight arithmetic below is reproducible
# without a tolerance.


@query(
    "q_sample_temperature",
    oracle=f"""
        WITH counts AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sqrt(count(*)) AS DECIMAL(30,10)) AS w
          FROM documents GROUP BY source
        ), tot AS (
          SELECT CAST(sum(w) AS DOUBLE) AS wsum FROM counts
        ), rates AS (
          SELECT source, n_docs,
                 ROUND(least(1.0,
                   {MIX_TARGET} * (CAST(w AS DOUBLE) / wsum) / n_docs), 6)
                   AS rate
          FROM counts, tot
        )
        SELECT d.source,
               CAST(max(r.n_docs) AS BIGINT) AS n_docs,
               max(r.rate) AS rate,
               count(*) AS n_sample,
               CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE (d.doc_id * 2654435761) % 4294967296 <
              CAST(floor(r.rate * 4294967296) AS BIGINT)
        GROUP BY d.source
        ORDER BY d.source
    """,
)
def q_sample_temperature(spark, d):
    """Temperature-scaled source mixing (the multi-source pretraining
    recipe): per-source sampling rate ∝ count^0.5 / count, capped at
    1, normalized so the expected total is {T} docs — flattens the
    source distribution so head sources stop dominating the mix. The
    rate table has one row per SOURCE (a handful — genuinely
    broadcastable, unlike per-doc relations), built from one tiny
    aggregate; the corpus-side pass is then a broadcast join + the
    same Knuth key-hash predicate as q_sample_hash, i.e. one scan,
    one combinable agg, zero corpus-keyed shuffles beyond the final
    per-source rollup. Determinism: sqrt (correctly rounded) instead
    of pow, decimal-path sum of weights, rate rounded to 6 then
    FLOORED to the integer threshold (Spark's cast-to-long truncates
    while DuckDB's rounds — floor on both sides removes the
    divergence) — both engines pick identical rows."""
    docs = load(spark, d, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sqrt(F.count(F.lit(1))).cast(DEC).alias("w"),
    )
    tot = counts.agg(F.sum("w").cast("double").alias("wsum"))
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(MIX_TARGET)
                * (F.col("w").cast("double") / F.col("wsum"))
                / F.col("n_docs"),
            ),
            6,
        ).alias("rate"),
    )
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(h < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long"))
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("rate").alias("rate"),
            F.count(F.lit(1)).alias("n_sample"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Intra-document repetition scoring
# --------------------------------------------------------------------------


@query(
    "q_text_repetition",
    oracle=f"""
        WITH tg AS ({word_grams_sql("documents", 3, distinct=False)}
        ), per AS (
          SELECT doc_id, g, count(*) AS cnt FROM tg GROUP BY doc_id, g
        )
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_grams,
               count(*) AS n_distinct,
               CAST(max(cnt) AS BIGINT) AS max_rep,
               ROUND(1.0 - count(*) * 1.0 / sum(cnt), 6) AS rep_ratio
        FROM per
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def q_text_repetition(spark, d):
    """Intra-document repetition detection (the Gopher "repetition"
    family): fraction of word 3-grams that are repeats of an earlier
    3-gram in the SAME document — degenerate generated/boilerplate
    text scores high and gets culled before training. Same two-level
    hash-agg shape as q_quality_gate: explode 3-grams → count per
    (doc, gram) → per-doc rollup; both aggregations are map-side
    combinable on doc_id-prefixed keys, no windows, no joins, and the
    ratio is a single IEEE division of exact integer counts. The
    sliding 3-gram build is a JVM-side transform over the token array
    (no per-element fold — O(n) per doc)."""
    tg = word_grams(load(spark, d, "documents"), 3, distinct=False)
    per = tg.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("max_rep"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            "max_rep",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_grams"), 6
            ).alias("rep_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Per-class embedding outliers (distance to label centroid)
# --------------------------------------------------------------------------

OUT_TOP_K = 5  # flagged outliers per label


@query(
    "q_emb_outliers",
    oracle=f"""
        WITH x AS (
          SELECT vec_id, label,
                 generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings
        ), cent AS (
          SELECT label, dim,
                 CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE) / count(*)
                   AS c
          FROM x GROUP BY label, dim
        ), dist AS (
          SELECT x.vec_id, x.label,
                 ROUND(sqrt(CAST(sum(
                   CAST((x.v - cent.c) * (x.v - cent.c) AS DECIMAL(30,10))
                 ) AS DOUBLE)), 6) AS dist
          FROM x JOIN cent ON x.label = cent.label AND x.dim = cent.dim
          GROUP BY x.vec_id, x.label
        )
        SELECT label, vec_id, dist, CAST(rn AS INTEGER) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                       ORDER BY dist DESC, vec_id) AS rn
          FROM dist
        )
        WHERE rn <= {OUT_TOP_K}
        ORDER BY label, rank
    """,
)
def q_emb_outliers(spark, d):
    """Per-class embedding outlier detection: Euclidean distance of
    each vector to its label's centroid, top-{K} farthest per label —
    the mislabeled-example / encoder-glitch sweep a curation pipeline
    runs over its embedding space. Plan: posexplode to (vec, label,
    dim, v); centroids are ONE hash agg onto (label, dim) — 640 cells
    total, independent of corpus size — broadcast back; distances are
    a second combinable agg keyed on vec_id; top-k per label is a
    window PARTITIONED BY label (parallelism = #labels; at higher
    label cardinality this is exactly operators/ranking.py's
    distributed top-k shape). Determinism: every floating sum (the
    centroid numerator AND the squared-distance accumulation) runs on
    the exact decimal path, so both engines produce bit-identical
    doubles before the ROUND(6)/rank. The n·d row inflation is the
    declared-correctness surrogate for the O(d) JVM array fold used
    by the similarity operators; both are one linear pass."""
    emb = load(spark, d, "embeddings")
    # posexplode_outer + null-drop: plain posexplode pushes a pruning
    # filter that re-evaluates the interpreted cast-transform per row
    # in the scan (see grams.word_grams).
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode_outer(as_double_array(F.col("embedding"))).alias(
            "dim", "v"
        ),
    ).filter(F.col("dim").isNotNull())
    cent = x.groupBy("label", "dim").agg(
        (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "c"
        )
    )
    dist = (
        x.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (
                            (F.col("v") - F.col("c"))
                            * (F.col("v") - F.col("c"))
                        ).cast(DEC)
                    ).cast("double")
                ),
                6,
            ).alias("dist")
        )
    )
    wr = Window.partitionBy("label").orderBy(F.desc("dist"), F.asc("vec_id"))
    return (
        dist.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= OUT_TOP_K)
        .select("label", "vec_id", "dist", "rank")
        .orderBy("label", "rank")
    )


# --------------------------------------------------------------------------
# BM25 retrieval scoring
# --------------------------------------------------------------------------

BM25_TERMS = ("hash", "join", "merge", "scan")  # fixed probe query
BM25_K1, BM25_B = 1.2, 0.75
BM25_TOP = 20


@query(
    "q_text_bm25",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), dl AS (
          SELECT doc_id, len(w) AS dl FROM toks
        ), stats AS (
          SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                 count(*) AS n FROM dl
        ), tf AS (
          SELECT doc_id, tok, count(*) AS tf
          FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
          WHERE tok IN ('hash', 'join', 'merge', 'scan')
          GROUP BY doc_id, tok
        ), df AS (
          SELECT tok, count(*) AS df FROM tf GROUP BY tok
        ), contrib AS (
          SELECT t.doc_id,
                 CAST(ROUND(
                   ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * (t.tf * ({BM25_K1} + 1.0))
                   / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
                        + {BM25_B} * l.dl / s.avgdl)),
                 6) AS DECIMAL(30,10)) AS c
          FROM tf t
          JOIN df d USING (tok)
          JOIN dl l ON t.doc_id = l.doc_id
          CROSS JOIN stats s
        )
        SELECT doc_id,
               ROUND(CAST(sum(c) AS DOUBLE), 6) AS bm25
        FROM contrib GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP}
    """,
)
def q_text_bm25(spark, d):
    """BM25 retrieval scoring of the corpus against a fixed probe
    query — the lexical-retrieval baseline every RAG/eval pipeline
    keeps next to its vector index. Plan: tokens explode ONCE with an
    early isin(query terms) filter (the stream that survives is
    |terms|-bounded per doc); tf is one combinable agg on (doc, term);
    df and the corpus length stats are genuinely tiny relations
    (|terms| rows / 1 row) joined back broadcast-style by AQE; dl
    rides along from a scan projection. Determinism: each per-term
    contribution is rounded to 6 then summed on the exact decimal
    path (a raw double sum over terms would be order-dependent), and
    the ln/×/÷ chain is written with identical structure on both
    engines. Top-{top} by (bm25 desc, doc_id) →
    TakeOrderedAndProject, never a global sort."""
    docs = load(spark, d, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    dl = toks.select("doc_id", F.size("w").cast("long").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n"),
    )
    tf = (
        toks.select("doc_id", F.explode("w").alias("tok"))
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = (
        tf.join(df_t, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom, 6
            ).cast(DEC).alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c").cast("double"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


# --------------------------------------------------------------------------
# PMI phrase mining
# --------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP = 20


@query(
    "q_text_pmi",
    oracle=f"""
        WITH toks AS (
          SELECT string_split(text, ' ') AS w FROM documents
        ), uni AS (
          SELECT tok, count(*) AS cu
          FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok
        ), tu AS (
          SELECT CAST(sum(cu) AS BIGINT) AS t_u FROM uni
        ), pos AS (
          SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
          FROM toks WHERE len(w) >= 2
        ), big AS (
          SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS n_pair
          FROM pos GROUP BY 1, 2
        ), tb AS (
          SELECT CAST(sum(n_pair) AS BIGINT) AS t_b FROM big
        )
        SELECT b.w1, b.w2, CAST(b.n_pair AS BIGINT) AS n_pair,
               ROUND(ln(
                 (b.n_pair * 1.0 / t.t_b)
                 / ((a.cu * 1.0 / u.t_u) * (c.cu * 1.0 / u.t_u))
               ), 6) AS pmi
        FROM big b
        JOIN uni a ON a.tok = b.w1
        JOIN uni c ON c.tok = b.w2
        CROSS JOIN tu u CROSS JOIN tb t
        WHERE b.n_pair >= {PMI_MIN_COUNT}
        ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOP}
    """,
)
def q_text_pmi(spark, d):
    """PMI phrase mining: pointwise mutual information of adjacent
    word pairs vs their unigram frequencies — the collocation pass
    that surfaces multi-word expressions worth single tokens.
    Bigrams come from arrays_zip of two array slices (JVM-native, no
    interpreted lambda, no pruning-filter hazard) exploded once;
    unigram and bigram count tables are combinable hash aggs; the
    two count joins key on the WORD (vocabulary-sized relations — at
    corpus scale a DF cap bounds them, and AQE picks broadcast when
    they fit); the totals are 1-row broadcasts. The probability
    ratio is built with the identical expression tree on both
    engines, ln'd, rounded to 6, then top-{top} by (pmi desc, w1,
    w2) → TakeOrderedAndProject."""
    docs = load(spark, d, "documents")
    toks = docs.select(F.split("text", " ").alias("w"))
    uni = (
        toks.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    tu = uni.agg(F.sum("cu").alias("t_u"))
    pairs = toks.filter(F.size("w") >= 2).select(
        F.explode_outer(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1).alias("w1"),
                F.slice(F.col("w"), 2, F.size("w") - 1).alias("w2"),
            )
        ).alias("p")
    ).filter(F.col("p").isNotNull())
    big = (
        pairs.select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    tb = big.agg(F.sum("n_pair").alias("t_b"))
    ua = uni.select(F.col("tok").alias("w1"), F.col("cu").alias("cu_a"))
    uc = uni.select(F.col("tok").alias("w2"), F.col("cu").alias("cu_b"))
    pmi = F.round(
        F.log(
            (F.col("n_pair") * F.lit(1.0) / F.col("t_b"))
            / (
                (F.col("cu_a") * F.lit(1.0) / F.col("t_u"))
                * (F.col("cu_b") * F.lit(1.0) / F.col("t_u"))
            )
        ),
        6,
    )
    return (
        big.filter(F.col("n_pair") >= PMI_MIN_COUNT)
        .join(ua, "w1")
        .join(uc, "w2")
        .crossJoin(F.broadcast(tu))
        .crossJoin(F.broadcast(tb))
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP)
    )


# --------------------------------------------------------------------------
# MMR diversity re-ranking
# --------------------------------------------------------------------------

MMR_QUERY_ID = 0
MMR_CAND = 20
MMR_K = 5


@query("q_sim_mmr_rerank")  # rows-only: greedy selection not SQL-expressible
def q_sim_mmr_rerank(spark, d):
    """MMR diversity re-rank of a retrieval result: top-{cand}
    cosine candidates for one probe vector (distributed brute-force
    scoring, TakeOrderedAndProject), then the greedy λ-tradeoff
    selection of {k} in ONE bounded Arrow task
    (operators/similarity.mmr_rerank) — the standard fix for
    retrieval lists full of near-duplicates. Deterministic (ties on
    id); rows-only because greedy argmax chains don't express in
    SQL; tests/test_dedup_similarity.py pins that the MMR set is
    strictly more diverse than plain top-k on the fixture."""
    from ..operators.similarity import cosine_topk, mmr_rerank

    emb = load(spark, d, "embeddings")
    qrow = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select("embedding")
    cands = cosine_topk(
        emb.filter(F.col("vec_id") != MMR_QUERY_ID),
        qrow,
        "vec_id",
        "embedding",
        MMR_CAND,
    )
    cand_vecs = cands.join(
        emb.select("vec_id", as_double_array(F.col("embedding")).alias("vec")),
        "vec_id",
    )
    return mmr_rerank(cand_vecs, "vec_id", "vec", "cos", MMR_K).orderBy("rank")


# --------------------------------------------------------------------------
# URL canonicalization
# --------------------------------------------------------------------------


@query(
    "q_url_canonical",
    oracle="""
        WITH aug AS (
          SELECT doc_id,
                 'https://' || source || '.example.com:8443/' || lang
                 || '/doc/' || doc_id || '?utm_source=feed&ref='
                 || (doc_id % 7) || '#frag' AS url
          FROM documents
        )
        SELECT doc_id,
               regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
               regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
               regexp_extract(url, 'ref=([0-9]+)', 1) AS ref,
               regexp_replace(
                 regexp_replace(url, '[?#].*$', '', 'g'),
                 ':[0-9]+', '', 'g')
                 AS canonical_url
        FROM aug
        ORDER BY doc_id
    """,
)
def q_url_canonical(spark, d):
    """URL parsing + canonicalization — the crawl-curation pass that
    groups documents by origin and strips tracking params/fragments
    before dedup (two fetches of one resource must canonicalize
    identically or URL-level dedup misses them). Spark side uses the
    parse_url intrinsic for host/path/query-param extraction (JVM
    codegen'd; the oracle mirrors with the equivalent regexes);
    canonicalization = drop query+fragment, strip the port. URLs are
    synthesized deterministically from fixture columns (the corpus
    ships none). Pure projection — zero shuffles, scan-speed."""
    docs = load(spark, d, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com:8443/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&ref="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("#frag"),
    )
    aug = docs.select("doc_id", url.alias("url"))
    return aug.select(
        "doc_id",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("ref")).alias("ref"),
        F.regexp_replace(
            F.regexp_replace(F.col("url"), r"[?#].*$", ""), ":[0-9]+", ""
        ).alias("canonical_url"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Boilerplate detection (cross-document template grams)
# --------------------------------------------------------------------------

BOILER_DF = 50  # a 3-gram in more than this many docs is boilerplate


@query(
    "q_text_boilerplate",
    oracle=f"""
        WITH tg AS ({word_grams_sql("documents", 3)}
        ), df AS (
          SELECT g, count(*) AS ndocs FROM tg GROUP BY g
        )
        SELECT t.doc_id,
               count(*) AS n_grams,
               CAST(count(CASE WHEN d.ndocs > {BOILER_DF} THEN 1 END)
                    AS BIGINT) AS n_boiler,
               CAST(count(CASE WHEN d.ndocs > {BOILER_DF} THEN 1 END)
                    * 1000000 // count(*) AS BIGINT) AS boiler_ppm
        FROM tg t JOIN df d ON t.g = d.g
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """,
)
def q_text_boilerplate(spark, d):
    """Boilerplate detection: the fraction of a document's distinct
    3-grams that are cross-document template grams (document
    frequency > {df} — headers, footers, nav text). High-ratio
    documents are templated pages a curation pipeline strips or
    down-weights. Plan: ONE gram explode feeds both sides — the DF
    table via a combinable (gram → ndocs) agg, joined back to the
    same stream on the gram key (vocabulary-sized relation, AQE
    broadcasts when it fits) — then a per-doc combinable rollup.
    The gram stream is staged once (same multi-consumer rule as
    operators/lsh.py); the boilerplate share is exact integer ppm
    (long div long on both engines)."""
    tg = word_grams(load(spark, d, "documents"), 3).persist()
    df_t = tg.groupBy("g").agg(F.count(F.lit(1)).alias("ndocs"))
    return (
        tg.join(df_t, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("ndocs") > BOILER_DF, 1)).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            F.expr("n_boiler * 1000000L div n_grams").alias(
                "boiler_ppm"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# URL-level dedup
# --------------------------------------------------------------------------


@query(
    "q_dedup_url",
    oracle="""
        WITH aug AS (
          SELECT doc_id,
                 'https://' || source || '.example.com/' || lang || '/doc/'
                 || (doc_id % 100) AS canonical_url
          FROM documents
        ), ranked AS (
          SELECT doc_id, canonical_url,
                 row_number() OVER (PARTITION BY canonical_url
                                    ORDER BY doc_id) AS rn,
                 count(*) OVER (PARTITION BY canonical_url) AS n_fetches
          FROM aug
        )
        SELECT canonical_url,
               doc_id AS kept_doc,
               CAST(n_fetches AS BIGINT) AS n_fetches
        FROM ranked WHERE rn = 1 AND n_fetches > 1
        ORDER BY canonical_url
    """,
)
def q_dedup_url(spark, d):
    """URL-level dedup: after canonicalization (q_url_canonical),
    documents sharing a canonical URL are re-fetches of one resource
    — keep the earliest doc_id per URL. Synthesized URLs collide via
    doc_id % 100 (the corpus ships none). One shuffle on the URL;
    the keep-pick and fetch-count come from a single url-partitioned
    window pass — the cheapest dedup tier, run BEFORE any content
    hashing."""
    docs = load(spark, d, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        (F.col("doc_id") % 100).cast("string"),
    )
    aug = docs.select("doc_id", url.alias("canonical_url"))
    wr = Window.partitionBy("canonical_url").orderBy("doc_id")
    wc = Window.partitionBy("canonical_url")
    return (
        aug.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_fetches", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("n_fetches") > 1))
        .select(
            "canonical_url",
            F.col("doc_id").alias("kept_doc"),
            "n_fetches",
        )
        .orderBy("canonical_url")
    )


# --------------------------------------------------------------------------
# Corpus health rollup
# --------------------------------------------------------------------------


@query(
    "q_corpus_health",
    oracle="""
        WITH t AS (
          SELECT source, lang, doc_id, n_chars,
                 len(string_split(text, ' ')) AS n_tokens,
                 len(list_distinct(string_split(text, ' '))) AS n_uniq
          FROM documents
        )
        SELECT source, lang,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(n_tokens) * 1000000 // count(*) AS BIGINT)
                   AS mean_tokens_micro,
               CAST(floor(CAST(sum(CAST(n_uniq * 1.0 / n_tokens
                                        AS DECIMAL(30,10))) AS DOUBLE)
                          / count(*) * 1000000) AS BIGINT)
                   AS mean_uniq_ratio_micro,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM t
        GROUP BY source, lang
        ORDER BY source, lang
    """,
)
def q_corpus_health(spark, d):
    """Corpus health dashboard: per (source, lang) document counts,
    token volumes, and diversity — the monitoring rollup a data team
    watches per ingest batch (a collapsing uniq-ratio or token count
    flags a broken extractor upstream). One scan, per-doc in-row
    token stats (split + array_distinct, no explode), one combinable
    agg onto the tiny (source, lang) key space. The uniq-ratio mean
    routes each per-doc ratio through the exact decimal path before
    summing (a raw double sum would be order-dependent across
    partitionings); both means leave as integer micro (exact long
    div, and floor(x*1e6) on the identical double)."""
    docs = load(spark, d, "documents")
    t = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_uniq"),
    )
    return (
        t.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.expr("sum(n_tokens) * 1000000L div count(*)").alias(
                "mean_tokens_micro"
            ),
            F.floor(
                F.sum(
                    (F.col("n_uniq") * F.lit(1.0) / F.col("n_tokens")).cast(
                        DEC
                    )
                ).cast("double")
                / F.count(F.lit(1))
                * 1000000
            ).alias("mean_uniq_ratio_micro"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("source", "lang")
    )


# --------------------------------------------------------------------------
# MMR, the hash-verified way (integer-quantized, greedy unrolled in SQL)
# --------------------------------------------------------------------------

MMRX_CAND = 20
MMRX_K = 5
# lambda = 0.7 expressed as integer weights 7:3 — the greedy argmax
# compares 7*rel - 3*maxsim, all BIGINT, so no float exists anywhere
_MMRX_QUANT = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
_MMRX_DOT = "list_sum(list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i]))"


def _mmr_exact_oracle() -> str:
    """Chained-CTE mirror of the unrolled greedy: step t picks the
    argmax of 7*rel - 3*max_sim_to_selected over the not-yet-selected
    candidates (ORDER BY ... LIMIT 1, vec_id tie-break)."""
    steps = []
    sel_union = "SELECT vec_id, rank_ FROM s1"
    steps.append("""s1 AS (
          SELECT vec_id, rel, 7 * rel AS mmr, 1 AS rank_
          FROM cvec ORDER BY mmr DESC, vec_id LIMIT 1
        )""")
    for t in range(2, MMRX_K + 1):
        prev_sel = f"sel{t - 1}"
        steps.append(f"""{prev_sel} AS ({sel_union})""")
        steps.append(f"""s{t} AS (
          SELECT c.vec_id, c.rel, 7 * c.rel - 3 * m.ms AS mmr,
                 {t} AS rank_
          FROM cvec c
          JOIN (
            SELECT s.ia, MAX(s.s) AS ms FROM sims s
            WHERE s.ib IN (SELECT vec_id FROM {prev_sel})
            GROUP BY s.ia
          ) m ON m.ia = c.vec_id
          WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev_sel})
          ORDER BY mmr DESC, c.vec_id LIMIT 1
        )""")
        sel_union += f" UNION ALL SELECT vec_id, rank_ FROM s{t}"
    picks = " UNION ALL ".join(
        f"SELECT rank_, vec_id, rel, mmr FROM s{t}"
        for t in range(1, MMRX_K + 1)
    )
    dot_vq = _MMRX_DOT.format(a="v.q", b="qv.q")
    dot_ab = _MMRX_DOT.format(a="a.q", b="b.q")
    return f"""
        WITH qv AS (
          SELECT {_MMRX_QUANT} AS q FROM embeddings WHERE vec_id = 0
        ),
        vecs AS (
          SELECT vec_id, {_MMRX_QUANT} AS q
          FROM embeddings WHERE vec_id <> 0
        ),
        rel AS (
          SELECT v.vec_id, v.q, {dot_vq} AS rel FROM vecs v, qv
        ),
        cvec AS (
          SELECT vec_id, q, rel FROM rel
          ORDER BY rel DESC, vec_id LIMIT {MMRX_CAND}
        ),
        sims AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib, {dot_ab} AS s
          FROM cvec a JOIN cvec b ON a.vec_id <> b.vec_id
        ),
        {", ".join(steps)}
        SELECT rank_ AS rank, vec_id, CAST(rel AS BIGINT) AS rel,
               CAST(mmr AS BIGINT) AS mmr
        FROM ({picks})
        ORDER BY rank
    """


@query("q_sim_mmr_exact", oracle=_mmr_exact_oracle())
def q_sim_mmr_exact(spark, d):
    """MMR diversity re-ranking, hash-verified: the declared twin of
    q_sim_mmr_rerank (which keeps the Arrow-task form). Everything is
    integer: components quantize to floor(x*1e6), relevance and
    pairwise similarity are BIGINT dot folds, and lambda=0.7 becomes
    the weight pair 7:3 — so the greedy argmax chain has NO float
    anywhere and both engines select identically by construction.
    The k=5 greedy steps UNROLL as DataFrame ops (each step = anti
    join selected + max-sim agg + 1-row TakeOrdered over the
    20-candidate relation): greedy selection IS SQL-expressible when
    k is fixed and the candidate set is bounded — the distributed
    work remains the upstream top-20 scan, exactly as in the Arrow
    form. Candidate relation and gram matrix persist across the five
    bounded steps."""
    emb = load(spark, d, "embeddings")
    quant = F.expr(
        "transform(embedding, x -> cast(floor(cast(x as double)"
        " * 1000000) as bigint))"
    )
    qv = (
        emb.filter(F.col("vec_id") == 0)
        .select(quant.alias("qq"))
    )
    vecs = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", quant.alias("q")
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L,"
        " (acc, x) -> acc + x)"
    )
    rel = vecs.crossJoin(F.broadcast(qv)).select(
        "vec_id",
        "q",
        F.expr(dot.format(a="q", b="qq")).alias("rel"),
    )
    cvec = rel.orderBy(F.desc("rel"), "vec_id").limit(MMRX_CAND).persist()
    a = cvec.select(
        F.col("vec_id").alias("ia"), F.col("q").alias("qa")
    )
    b = cvec.select(
        F.col("vec_id").alias("ib"), F.col("q").alias("qb")
    )
    sims = (
        a.join(b, F.col("ia") != F.col("ib"))
        .select(
            "ia", "ib", F.expr(dot.format(a="qa", b="qb")).alias("s")
        )
        .persist()
    )
    # each pick is ONE row; an eager localCheckpoint cuts the O(k^2)
    # nested-TakeOrdered plan growth (measured 8.2 s -> 2.5 s at sf0.1:
    # the cost was AQE stage scheduling for the nesting, not data)
    picks = [
        cvec.select(
            "vec_id", "rel", (7 * F.col("rel")).alias("mmr"),
            F.lit(1).alias("rank"),
        )
        .orderBy(F.desc("mmr"), "vec_id")
        .limit(1)
        .localCheckpoint()
    ]
    sel = picks[0].select("vec_id")
    for t in range(2, MMRX_K + 1):
        maxsim = (
            sims.join(sel, sims.ib == sel.vec_id)
            .groupBy("ia")
            .agg(F.max("s").alias("ms"))
        )
        step = (
            cvec.join(sel, "vec_id", "left_anti")
            .join(maxsim, F.col("vec_id") == F.col("ia"))
            .select(
                "vec_id",
                "rel",
                (7 * F.col("rel") - 3 * F.col("ms")).alias("mmr"),
                F.lit(t).alias("rank"),
            )
            .orderBy(F.desc("mmr"), "vec_id")
            .limit(1)
            .localCheckpoint()
        )
        picks.append(step)
        sel = sel.unionAll(step.select("vec_id"))
    out = picks[0].select("rank", "vec_id", "rel", "mmr")
    for p in picks[1:]:
        out = out.unionAll(p.select("rank", "vec_id", "rel", "mmr"))
    return out.orderBy("rank")
