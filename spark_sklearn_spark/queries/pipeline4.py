"""LLM-pipeline operators, batch 4 (round 5): corpus hygiene and
vector analytics — composite quality gating, benchmark
decontamination, PII redaction, rolling anomaly detection, batched
kNN, and embedding dimension statistics / PCA.

These fill the remaining slots of a production training-data
pipeline: the *decision* layer (which documents enter the mix), the
*compliance* layer (PII scrubbing, benchmark-overlap removal), and
the *vector QA* layer (per-dimension drift stats, PCA projection for
corpus visualization/whitening).

Scale notes are per-query; the common theme is: pure codegen'd
projections where possible, hash aggregations with map-side partial
combine for the token passes, a broadcast only for genuinely tiny
(benchmark n-gram / query-batch) relations, and Arrow-batched BLAS
for the one matrix pass (PCA gramian) with a driver step bounded by
O(partitions · d²), never O(rows).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.vectors import as_double_array
from ..registry import query
from ..sources.io import load
from ._helpers import DEC
from .grams import word_grams, word_grams_sql


# --------------------------------------------------------------------------
# Composite quality gate (Gopher-style rule filter)
# --------------------------------------------------------------------------

# Thresholds sit on real quantiles of the fixture corpus (median
# n_tokens 56, dominance 0.093, uniq 0.46) so every rule actually
# fires on some documents; production values differ, the shape of the
# plan does not.
GATE_MIN_TOKENS, GATE_MAX_TOKENS = 25, 1000
GATE_MIN_WLEN, GATE_MAX_WLEN = 3.0, 10.0
GATE_MAX_DOMINANCE = 0.12
GATE_MIN_UNIQ = 0.35


@query(
    "q_quality_gate",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents
        ), c AS (
          SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2
        ), s AS (
          SELECT doc_id,
                 sum(cnt) AS n,
                 max(cnt) AS top_cnt,
                 count(*) AS uniq,
                 sum(len(tok) * cnt) AS chars
          FROM c GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               ROUND(chars * 1.0 / n, 6) AS mean_wlen,
               ROUND(top_cnt * 1.0 / n, 6) AS dominance,
               ROUND(uniq * 1.0 / n, 6) AS uniq_ratio,
               CAST(
                 CASE WHEN n BETWEEN {GATE_MIN_TOKENS} AND {GATE_MAX_TOKENS}
                      THEN 0 ELSE 1 END
               + CASE WHEN chars * 1.0 / n
                           BETWEEN {GATE_MIN_WLEN} AND {GATE_MAX_WLEN}
                      THEN 0 ELSE 2 END
               + CASE WHEN top_cnt * 1.0 / n <= {GATE_MAX_DOMINANCE}
                      THEN 0 ELSE 4 END
               + CASE WHEN uniq * 1.0 / n >= {GATE_MIN_UNIQ}
                      THEN 0 ELSE 8 END AS INTEGER) AS reason_mask
        FROM s
        ORDER BY doc_id
    """,
)
def q_quality_gate(spark, d):
    """Composite pretraining quality gate: four independent rules
    (length band, mean word length band, single-token dominance cap,
    vocabulary-diversity floor) folded into one reason bitmask —
    `reason_mask = 0` means the document enters the training mix, a
    nonzero mask says exactly which rules rejected it (the audit
    trail a curation pipeline keeps). Unlike q_text_stats /
    q_text_quality (per-doc array projections), dominance needs the
    per-(doc, token) histogram, so the plan is explode → two chained
    hash aggregations, both with map-side partial combine on the
    same doc_id-prefixed grouping — no window, no join, two shuffles
    total regardless of corpus size. Ratios are single IEEE
    divisions of exact integer sums — deterministic on both engines.
    """
    docs = load(spark, d, "documents")
    c = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s = c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.max("cnt").alias("top_cnt"),
        F.count(F.lit(1)).alias("uniq"),
        F.sum(F.length("tok") * F.col("cnt")).alias("chars"),
    )
    n = F.col("n").cast("double")
    mean_wlen = F.col("chars") / n
    dominance = F.col("top_cnt") / n
    uniq_ratio = F.col("uniq") / n
    mask = (
        F.when(F.col("n").between(GATE_MIN_TOKENS, GATE_MAX_TOKENS), 0).otherwise(1)
        + F.when(mean_wlen.between(GATE_MIN_WLEN, GATE_MAX_WLEN), 0).otherwise(2)
        + F.when(dominance <= GATE_MAX_DOMINANCE, 0).otherwise(4)
        + F.when(uniq_ratio >= GATE_MIN_UNIQ, 0).otherwise(8)
    )
    return s.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.round(mean_wlen, 6).alias("mean_wlen"),
        F.round(dominance, 6).alias("dominance"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        mask.cast("int").alias("reason_mask"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out set)
# --------------------------------------------------------------------------

# 3-grams because the fixture vocabulary is ~30 words (8-to-13-gram
# production windows would never collide on synthetic word soup); the
# plan is window-size-agnostic.
DECON_BENCH_MOD = 97


@query(
    "q_decontaminate",
    oracle=f"""
        WITH tg AS ({word_grams_sql("documents", 3)}
        ), bench AS (
          SELECT DISTINCT g FROM tg WHERE doc_id % {DECON_BENCH_MOD} = 0
        ), doc_sizes AS (
          SELECT doc_id, count(*) AS n_ngrams FROM tg GROUP BY doc_id
        ), hits AS (
          SELECT t.doc_id, count(DISTINCT t.g) AS n_shared
          FROM tg t JOIN bench b USING (g)
          WHERE t.doc_id % {DECON_BENCH_MOD} <> 0
          GROUP BY t.doc_id
        )
        SELECT h.doc_id,
               CAST(h.n_shared AS BIGINT) AS n_shared,
               CAST(s.n_ngrams AS BIGINT) AS n_ngrams,
               ROUND(h.n_shared * 1.0 / s.n_ngrams, 6) AS overlap_ratio
        FROM hits h JOIN doc_sizes s ON h.doc_id = s.doc_id
        ORDER BY h.doc_id
    """,
)
def q_decontaminate(spark, d):
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with a held-out benchmark set (here the doc_id %
    {mod} == 0 slice standing in for an eval suite). The scale shape
    is the one production decontamination uses: the benchmark's
    distinct n-grams are a genuinely small relation (eval suites are
    MBs, corpora are TBs) so they BROADCAST; the corpus side streams
    through explode → broadcast-hash semi-ish join → per-doc count.
    No shuffle touches the corpus n-gram stream except the final
    per-doc aggregation, which is map-side combinable. Distinct
    n-grams per doc via array_distinct before explode keeps the
    exploded row count at its minimum.

    Plan economics: the corpus gram stream is consumed ONCE — a LEFT
    join against the broadcast benchmark set with a hit marker feeds a
    single per-doc agg computing both n_ngrams (count of all grams)
    and n_shared (count of marked grams). The naive three-consumer
    shape (separate sizes / hits / bench branches over the same gram
    subtree) recomputes the interpreted ngram transform per branch —
    measured 3× the single-pass wall at sf0.1. The benchmark branch
    itself prunes to the 1/{mod} doc slice below the explode, so its
    gram pass is ~1% of a corpus pass."""
    tg = word_grams(load(spark, d, "documents"), 3)
    bench = (
        tg.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("g")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        tg.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("__hit").alias("n_shared"),
            F.count(F.lit(1)).alias("n_ngrams"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_shared",
            "n_ngrams",
            F.round(F.col("n_shared") / F.col("n_ngrams"), 6).alias(
                "overlap_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# The fixture corpus is synthetic word soup with no PII, so the query
# injects deterministic addresses/phones first (same expression on
# both engines) — the redaction regexes and the count/replace plan
# are the real subject.
_EMAIL_RE = "[a-z0-9]+@[a-z0-9.]+[a-z]"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@query(
    "q_pii_redact",
    oracle=f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id
                      || '@mail.example.com or call +1-555-'
                      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                      || CASE WHEN doc_id % 3 = 0
                              THEN ' cc admin' || doc_id || '@corp.example.org'
                              ELSE '' END AS t
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INTEGER)
                   AS n_email,
               CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INTEGER)
                   AS n_phone,
               md5(regexp_replace(
                     regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5,
               CAST(length(regexp_replace(
                     regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{_PHONE_RE}', '<PHONE>', 'g')) AS INTEGER) AS redacted_len
        FROM aug
        ORDER BY doc_id
    """,
)
def q_pii_redact(spark, d):
    """PII scrubbing: count and redact email/phone patterns in one
    pure projection — zero shuffles, zero Python, the whole pipeline
    stays inside whole-stage codegen, so it streams at scan speed on
    any corpus size (the compliance pass you run over every shard
    before training). Regex syntax restricted to the RE2∩Java common
    subset so Spark and the oracle agree byte-for-byte."""
    docs = load(spark, d, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1-555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" cc admin"),
                F.col("doc_id").cast("string"),
                F.lit("@corp.example.org"),
            ),
        ).otherwise(F.lit("")),
    )
    red = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).cast("int").alias("n_email"),
        F.regexp_count(aug, F.lit(_PHONE_RE)).cast("int").alias("n_phone"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("int").alias("redacted_len"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Rolling z-score anomaly detection
# --------------------------------------------------------------------------

ANOM_LOOKBACK = 20  # trailing events per user
ANOM_MIN_N = 10  # minimum history before scoring
ANOM_Z = 3.0  # |z| threshold (fixture value dist is right-skewed)


@query(
    "q_ts_anomaly",
    oracle=f"""
        WITH s AS (
          SELECT event_id, user_id, event_type, value,
                 count(value) OVER w AS cnt,
                 CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE)
                     AS sx,
                 CAST(sum(CAST(value * value AS DECIMAL(30,10))) OVER w
                      AS DOUBLE) AS sxx
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {ANOM_LOOKBACK} PRECEDING
                                AND 1 PRECEDING)
        )
        SELECT event_id, user_id, event_type, value,
               ROUND((value - sx / cnt)
                     / sqrt((sxx - cnt * (sx/cnt) * (sx/cnt)) / (cnt - 1)),
                     6) AS zscore
        FROM s
        WHERE cnt >= {ANOM_MIN_N}
          AND (sxx - cnt * (sx/cnt) * (sx/cnt)) > 0
          AND ROUND(abs((value - sx / cnt)
                / sqrt((sxx - cnt * (sx/cnt) * (sx/cnt)) / (cnt - 1))), 6)
              >= {ANOM_Z}
        ORDER BY event_id
    """,
)
def q_ts_anomaly(spark, d):
    """Trailing-window z-score anomaly detection per user: each event
    scored against the mean/std of its own user's previous
    {lookback} events. One shuffle (hash by user_id), then sorted
    frame aggregation — the mean and variance come from EXACT
    decimal window sums (the _helpers decimal policy applied to
    frames), so the double arithmetic that follows is bit-identical
    on both engines and the |z| ≥ τ cut cannot flake on summation
    order. Frame cost is O(1) per row (running sums), not
    O(lookback)."""
    ev = load(spark, d, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOM_LOOKBACK, -1)
    )
    v = F.col("value")
    cnt = F.count(v).over(w)
    sx = F.sum(v.cast(DEC)).over(w).cast("double")
    sxx = F.sum((v * v).cast(DEC)).over(w).cast("double")
    s = ev.select(
        "event_id", "user_id", "event_type", "value",
        cnt.alias("cnt"), sx.alias("sx"), sxx.alias("sxx"),
    )
    mean = F.col("sx") / F.col("cnt")
    ssd = F.col("sxx") - F.col("cnt") * mean * mean
    z = (F.col("value") - mean) / F.sqrt(ssd / (F.col("cnt") - 1))
    return (
        s.filter(
            (F.col("cnt") >= ANOM_MIN_N)
            & (ssd > 0)
            & (F.round(F.abs(z), 6) >= ANOM_Z)
        )
        .select(
            "event_id", "user_id", "event_type", "value",
            F.round(z, 6).alias("zscore"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Batched kNN (many queries, one corpus pass)
# --------------------------------------------------------------------------

KNN_BATCH_MOD = 50  # query set = vec_id % 50 == 0
KNN_BATCH_K = 5


@query(
    "q_sim_knn_batch",
    oracle=f"""
        WITH q AS (
          SELECT vec_id AS query_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id % {KNN_BATCH_MOD} = 0
        ), s AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                   q.qv), 6) AS cos
          FROM embeddings e, q
          WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM s
        )
        WHERE rn <= {KNN_BATCH_K}
        ORDER BY query_id, rank
    """,
)
def q_sim_knn_batch(spark, d):
    """Batched brute-force kNN: top-{k} cosine neighbors for a whole
    QUERY SET in one corpus pass (the retrieval-eval shape — score a
    probe batch, not one vector). Delegates to
    operators/similarity.cosine_batch_topk: the probe set ships
    pre-normalized inside the Arrow-task closure, every corpus batch
    scores all queries with ONE BLAS matmul and emits only its local
    top-k per query (Python→JVM rows bounded by batches·q·k), and a
    query_id-partitioned window finishes the global top-k — never a
    single-partition sort, never a per-row interpreted fold (the JVM
    fold alternative measures ~2.5× slower at q=40 and grows with q).
    Cosine is rounded to 6 BEFORE local pruning and global ranking on
    both engines, with neighbor_id as the tie-break."""
    from ..operators.similarity import cosine_batch_topk

    emb = load(spark, d, "embeddings")
    queries = emb.filter(F.col("vec_id") % KNN_BATCH_MOD == 0)
    return cosine_batch_topk(
        emb, "vec_id", "embedding", queries, KNN_BATCH_K
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# Embedding dimension statistics
# --------------------------------------------------------------------------


@query(
    "q_emb_dimstats",
    oracle="""
        WITH x AS (
          SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings
        )
        SELECT CAST(dim AS INTEGER) AS dim,
               CAST(count(*) AS BIGINT) AS n,
               ROUND(CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE)
                     / count(*), 6) AS mean,
               ROUND((CAST(sum(CAST(v * v AS DECIMAL(30,10))) AS DOUBLE)
                      - count(*)
                        * (CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE)
                           / count(*))
                        * (CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE)
                           / count(*)))
                     / (count(*) - 1), 6) AS variance,
               ROUND(min(v), 6) AS vmin,
               ROUND(max(v), 6) AS vmax
        FROM x
        GROUP BY dim
        ORDER BY dim
    """,
)
def q_emb_dimstats(spark, d):
    """Per-dimension embedding statistics (mean/variance/min/max) —
    the drift/QA pass a vector pipeline runs after every embedding
    refresh (a collapsed dimension or variance spike means a broken
    encoder). posexplode fans each vector into (dim, value) rows —
    O(n·d), the declared-correctness surrogate for the batched-BLAS
    moment accumulation the PCA query uses — then ONE hash
    aggregation on the 64 dim keys with map-side combine doing
    almost all the work before the (tiny) shuffle. Mean and variance
    come from exact decimal sums; the closing double ops are
    bit-identical on both engines."""
    emb = load(spark, d, "embeddings")
    # posexplode_outer + null-drop: plain posexplode pushes a pruning
    # filter that re-evaluates the interpreted cast-transform per row
    # in the scan (see grams.word_grams).
    x = emb.select(
        F.posexplode_outer(as_double_array(F.col("embedding"))).alias(
            "dim", "v"
        )
    ).filter(F.col("dim").isNotNull())
    sx = F.sum(F.col("v").cast(DEC)).cast("double")
    sxx = F.sum((F.col("v") * F.col("v")).cast(DEC)).cast("double")
    n = F.count(F.lit(1))
    mean = sx / n
    return (
        x.groupBy(F.col("dim").cast("int").alias("dim"))
        .agg(
            n.alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round((sxx - n * mean * mean) / (n - 1), 6).alias("variance"),
            F.round(F.min("v"), 6).alias("vmin"),
            F.round(F.max("v"), 6).alias("vmax"),
        )
        .orderBy("dim")
    )

