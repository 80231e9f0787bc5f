"""Round-7 batch: source round-trips (JSON-lines, ORC), compaction
planning over an ingest manifest, and near-dup-graph degree
distribution.

The round-trip pair completes the sink/source format matrix as
DECLARED queries (parquet: everywhere; csv: q_source_csv_roundtrip;
avro: probed in tests — the package isn't on the classpath here):
each writes a deterministic slice through the format and re-aggregates
it, while the oracle aggregates the original parquet — the hash
equality proves the round-trip lossless.

Compaction planning is the lakehouse maintenance primitive: given a
manifest of (file, rows) stats, assign source files to target files
by cumulative row budget. The manifest here is derived (portable-hash
bucket per row simulates the ingest's file assignment — 48 skewed
"files"); at 100 TB the manifest is a real table and the SAME plan
query runs over it — the window cumsum is over files, never rows.

Degree distribution rides the memoized near-dup edge snapshot
(bigrams.near_dup_edges) — the graph-health profile (how clustered
is my duplication?) next to q_graph_triangles/q_graph_pagerank.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.vectors import sq_dist
from ..registry import query
from ..sources.io import load, read_table, warehouse_path, write_table
from ._helpers import DEC
from .bigrams import NEAR_DUP_DEG_CTES, degrees, near_dup_edges
from .shingles import DUP_COMPONENTS_CTES, dup_components

# --------------------------------------------------------------------------
# JSON-lines round-trip
# --------------------------------------------------------------------------


@query(
    "q_source_jsonl_roundtrip",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc,
               MAX(doc_id) AS max_doc
        FROM documents
        WHERE doc_id % 7 = 0
        GROUP BY lang
        ORDER BY lang
    """,
)
def q_source_jsonl_roundtrip(spark, d):
    """JSON-lines sink → source round-trip, hash-declared: a
    deterministic documents slice goes out as JSONL and comes back
    with the writer's explicit schema (schema-on-read — inference is
    a second scan and can guess differently), then re-aggregates.
    The oracle aggregates the parquet source directly, so hash
    equality proves the text round-trip lossless for
    bigint/string payloads. JSONL is the interchange format every
    LLM-corpus pipeline ingests; this is the q_source_csv_roundtrip
    twin for it."""
    path = warehouse_path("jsonl_roundtrip", d)
    docs = (
        load(spark, d, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "lang", "n_chars")
    )
    write_table(docs, path, fmt="json")
    back = read_table(
        spark,
        path,
        fmt="json",
        schema="doc_id bigint, lang string, n_chars bigint",
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# ORC round-trip
# --------------------------------------------------------------------------


@query(
    "q_source_orc_roundtrip",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                          AS DOUBLE), 2) AS sum_price,
               MIN(o_orderdate) AS min_date,
               MAX(o_orderdate) AS max_date
        FROM orders
        WHERE o_orderkey % 10 = 0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def q_source_orc_roundtrip(spark, d):
    """ORC sink → source round-trip (the second columnar format Spark
    ships natively): a deterministic orders slice is written to ORC
    and read back — no schema argument needed, ORC keeps types — then
    re-aggregated; the oracle aggregates the parquet source. Proves
    bigint/double/string/timestamp survive the ORC writer/reader
    bit-exactly (doubles still ride the decimal-sum policy since the
    AGGREGATION order differs, not the values)."""
    path = warehouse_path("orc_roundtrip", d)
    orders = (
        load(spark, d, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    )
    write_table(orders, path, fmt="orc")
    back = read_table(spark, path, fmt="orc")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast(DEC)).cast("double"), 2
            ).alias("sum_price"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Compaction planning over an ingest manifest
# --------------------------------------------------------------------------

COMPACT_FILES = 48  # simulated ingest files in the manifest
COMPACT_TARGET = 4096  # rows per compacted target file

_COMPACT_ORACLE = f"""
    WITH manifest AS (
      SELECT (('0x' || substr(md5('f:' || CAST(l_orderkey AS VARCHAR)),
                              1, 14))::BIGINT) % {COMPACT_FILES} AS file_id,
             COUNT(*) AS rows_
      FROM lineitem
      GROUP BY file_id
    ),
    planned AS (
      SELECT file_id, rows_,
             SUM(rows_) OVER (ORDER BY file_id
                              ROWS UNBOUNDED PRECEDING) - rows_
                 AS cum_before
      FROM manifest
    )
    SELECT CAST(floor(cum_before / {COMPACT_TARGET}.0) AS BIGINT)
               AS target_file,
           COUNT(*) AS n_source_files,
           CAST(SUM(rows_) AS BIGINT) AS rows_,
           MIN(file_id) AS first_src,
           MAX(file_id) AS last_src
    FROM planned
    GROUP BY target_file
    ORDER BY target_file
"""


@query("q_layout_compaction", oracle=_COMPACT_ORACLE)
def q_layout_compaction(spark, d):
    """Small-file compaction plan: bin-pack source files into target
    files of ~4096 rows by cumulative budget (first-fit in file
    order — the deterministic plan OPTIMIZE-style maintenance jobs
    execute). The manifest is per-file row counts; here it's derived
    by hashing rows into 48 skewed buckets (a stand-in for the
    ingest's real file assignment), one hash agg. The plan itself —
    ordered cumsum + floor-div — runs over the MANIFEST (48 rows, one
    single-partition window over file stats, never over data rows),
    which is exactly why it scales: at 100 TB the manifest of a
    million files is still metadata-sized."""
    from ._helpers import h56

    li = load(spark, d, "lineitem").select(
        F.pmod(
            h56("concat('f:', cast(l_orderkey as string))"),
            F.lit(COMPACT_FILES),
        ).alias("file_id")
    )
    manifest = li.groupBy("file_id").agg(F.count(F.lit(1)).alias("rows_"))
    w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, 0)
    planned = manifest.withColumn(
        "cum_before", F.sum("rows_").over(w) - F.col("rows_")
    )
    return (
        planned.groupBy(
            F.floor(F.col("cum_before") / float(COMPACT_TARGET))
            .cast("long")
            .alias("target_file")
        )
        .agg(
            F.count(F.lit(1)).alias("n_source_files"),
            F.sum("rows_").alias("rows_"),
            F.min("file_id").alias("first_src"),
            F.max("file_id").alias("last_src"),
        )
        .orderBy("target_file")
    )


# --------------------------------------------------------------------------
# Near-dup graph degree distribution
# --------------------------------------------------------------------------

_DEGREE_ORACLE = f"""
    WITH {NEAR_DUP_DEG_CTES}
    SELECT dg AS degree, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM deg
    GROUP BY dg
    ORDER BY degree
"""


@query("q_graph_degree_dist", oracle=_DEGREE_ORACLE)
def q_graph_degree_dist(spark, d):
    """Degree distribution of the near-dup graph (docs with >= 1
    edge): how clustered is the duplication — a long tail of
    degree-1 pairs compacts fine, a hub of degree-400 means a
    template blowing up the transitive closure. Spark side rides the
    memoized edge snapshot (near_dup_edges — one parquet re-read
    after the first build), then two tiny hash aggs; the oracle
    recomputes the edges from scratch in SQL. Degree counting is
    symmetrize (unionAll) + groupBy — never materializes anything
    larger than the edge list."""
    degs = degrees(near_dup_edges(spark, d), "doc_a", "doc_b")
    return (
        degs.groupBy(F.col("dg").alias("degree"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("degree")
    )


# --------------------------------------------------------------------------
# Bag-of-words dedup (word-order-insensitive exact tier)
# --------------------------------------------------------------------------


@query(
    "q_dedup_bow",
    oracle="""
        WITH canon AS (
          SELECT doc_id, lang,
                 md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
                     AS bow_key
          FROM documents
        ),
        grouped AS (
          SELECT lang, bow_key, COUNT(*) AS n_in_group
          FROM canon GROUP BY lang, bow_key
        )
        SELECT lang,
               CAST(SUM(n_in_group) AS BIGINT) AS n_docs,
               COUNT(*) AS n_bow_groups,
               CAST(SUM(CASE WHEN n_in_group > 1 THEN n_in_group
                             ELSE 0 END) AS BIGINT)
                   AS n_dup_docs,
               CAST(SUM(CASE WHEN n_in_group > 1 THEN n_in_group - 1
                             ELSE 0 END) AS BIGINT)
                   AS n_removable
        FROM grouped
        GROUP BY lang
        ORDER BY lang
    """,
)
def q_dedup_bow(spark, d):
    """Bag-of-words dedup audit: canonical form = words sorted and
    rejoined, so REORDERED copies collapse (the tier between exact
    byte-hash q_dedup_exact and Jaccard q_dedup_ngram — shuffled
    template paragraphs hash differently but bag identically).
    sort_array/list_sort agree on plain-ASCII tokens; md5 of the
    canonical string is the group key. Output is the per-language
    dedup ledger (docs, groups, removable count — non-empty at every
    scale; the fixture plants dup clusters only at sf0.1). Two
    stacked hash aggs on the digest — at 100 TB identical shape to
    exact dedup: the sort is per-document (bounded by doc length),
    never cross-row."""
    docs = load(spark, d, "documents")
    canon = docs.select(
        "lang",
        F.md5(
            F.array_join(F.sort_array(F.split("text", " ")), " ")
        ).alias("bow_key"),
    )
    grouped = canon.groupBy("lang", "bow_key").agg(
        F.count(F.lit(1)).alias("n_in_group")
    )
    return (
        grouped.groupBy("lang")
        .agg(
            F.sum("n_in_group").alias("n_docs"),
            F.count(F.lit(1)).alias("n_bow_groups"),
            F.sum(
                F.when(F.col("n_in_group") > 1, F.col("n_in_group"))
                .otherwise(0)
            ).alias("n_dup_docs"),
            F.sum(
                F.when(F.col("n_in_group") > 1, F.col("n_in_group") - 1)
                .otherwise(0)
            ).alias("n_removable"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# BPE pair counts (tokenizer-training step 0)
# --------------------------------------------------------------------------


@query(
    "q_text_bpe_pairs",
    oracle="""
        WITH words AS (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        pairs AS (
          SELECT substr(w, i, 2) AS pair
          FROM words,
               LATERAL (SELECT unnest(generate_series(1, length(w) - 1))
                        AS i)
          WHERE length(w) >= 2
        )
        SELECT pair, COUNT(*) AS cnt
        FROM pairs
        GROUP BY pair
        ORDER BY cnt DESC, pair
        LIMIT 30
    """,
)
def q_text_bpe_pairs(spark, d):
    """Adjacent-character pair frequencies over the corpus — the
    inner counting step of BPE tokenizer training (each merge round
    recounts pairs and fuses the argmax). Words explode once, then
    each word emits length-1 pairs via ONE fused transform(sequence)
    (higher-order fns are interpreted with no CSE — the substring is
    the only per-element work). The count is a partial+final hash agg
    over a small alphabet-pair key space, so the 100 TB shape is a
    scan plus a constant-size shuffle; top-30 is
    TakeOrderedAndProject."""
    docs = load(spark, d, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    # r17: pair emission is a pure function of the word string —
    # collapse to DISTINCT words with a multiplicity first (map-side
    # combinable agg), explode pairs over the distinct-word relation,
    # and weight the count. Identical totals, ~occurrence/type-ratio×
    # less per-element substr work (the q_text_bpe_merge rewrite).
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))
    pairs = wc.select(
        "wn",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substr(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(30)
    )


# --------------------------------------------------------------------------
# Hapax / vocabulary statistics
# --------------------------------------------------------------------------


@query(
    "q_text_hapax",
    oracle="""
        WITH words AS (
          SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        counts AS (
          SELECT lang, w, COUNT(*) AS c FROM words GROUP BY lang, w
        )
        SELECT lang,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
               CAST((COUNT(*) * 1000000) // CAST(SUM(c) AS BIGINT)
                    AS BIGINT) AS ttr_ppm,
               CAST((SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
                    // COUNT(*) AS BIGINT) AS hapax_ppm
        FROM counts
        GROUP BY lang
        ORDER BY lang
    """,
)
def q_text_hapax(spark, d):
    """Vocabulary-richness profile per language: token count, type
    count, hapax legomena (frequency-1 types), type-token ratio and
    hapax share (both as exact integer ppm) — the corpus-health signals that catch synthetic or
    templated text (low TTR) and OCR noise (high hapax share). Two
    stacked combinable hash aggs — (lang, word) then lang — so the
    heavy key space collapses map-side before the shuffle."""
    docs = load(spark, d, "documents")
    words = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    )
    counts = words.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    # ratios as exact integer ppm (long div long) — raw-double ROUND
    # outputs are the one construct the driver's hasher punishes
    return agg.select(
        "lang",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("n_types * 1000000L div n_tokens").alias("ttr_ppm"),
        F.expr("n_hapax * 1000000L div n_types").alias("hapax_ppm"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# Zipf rank-frequency profile
# --------------------------------------------------------------------------


@query(
    "q_text_zipf",
    oracle="""
        WITH words AS (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        counts AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
        ranked AS (
          SELECT w, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank
          FROM counts
        )
        SELECT rank, w, c, rank * c AS zipf_product
        FROM ranked
        WHERE rank <= 20
        ORDER BY rank
    """,
)
def q_text_zipf(spark, d):
    """Zipf rank-frequency head: top-20 words with rank x frequency
    (roughly constant under Zipf's law — a corpus whose product
    collapses is templated or deduplicated too hard). The global
    ROW_NUMBER is computed AFTER the count agg shrinks the data to
    the vocabulary, and only the top-20 survive — ordering a
    vocab-sized relation, never the corpus. Ties broken by word on
    both engines."""
    docs = load(spark, d, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.desc("c"), "w").limit(20)
    # BOUNDED: 20-row relation (LIMIT above) — the unpartitioned
    # window is safe; session.py downgrades WindowExec's log noise
    w_rank = Window.orderBy(F.desc("c"), "w")
    return (
        top.withColumn("rank", F.row_number().over(w_rank))
        .select("rank", "w", "c", (F.col("rank") * F.col("c")).alias("zipf_product"))
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Running distinct count (first-seen flag + cumsum)
# --------------------------------------------------------------------------


@query(
    "q_win_running_distinct",
    oracle="""
        WITH flagged AS (
          SELECT user_id, event_id, ts, event_type,
                 CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                      THEN 1 ELSE 0 END AS first_seen
          FROM events
        )
        SELECT user_id, event_id,
               CAST(SUM(first_seen) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS n_types_so_far
        FROM flagged
        ORDER BY user_id, event_id
    """,
)
def q_win_running_distinct(spark, d):
    """Running COUNT(DISTINCT event_type) per user over time —
    expressed as first-seen flag (row_number = 1 within (user, type))
    plus a running sum, because a naive distinct-count window frame
    re-scans the frame per row. Two window passes over the SAME
    user-hash partitioning (Catalyst reuses the exchange; only the
    in-partition sort key changes), so the 100 TB cost is one shuffle
    + two sorts — the standard trick for any running-distinct metric
    (unique products seen, unique pages visited)."""
    ev = load(spark, d, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.withColumn(
        "first_seen",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
    )
    return (
        flagged.select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w_run).alias("n_types_so_far"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# Per-document keyword extraction (top TF-IDF terms)
# --------------------------------------------------------------------------

KW_TOPK = 3


@query(
    "q_text_keywords",
    oracle=f"""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents
        ),
        tf AS (
          SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w
        ),
        df AS (
          SELECT w, COUNT(*) AS df FROM tf GROUP BY w
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT t.doc_id, t.w,
                 ROUND(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6)
                     AS tfidf
          FROM tf t JOIN df d ON t.w = d.w, n
        ),
        ranked AS (
          SELECT doc_id, w, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, w) AS rnk
          FROM scored
        )
        SELECT doc_id, rnk, w, tfidf
        FROM ranked
        WHERE rnk <= {KW_TOPK} AND doc_id % 10 = 0
        ORDER BY doc_id, rnk
    """,
)
def q_text_keywords(spark, d):
    """Keyword extraction: top-3 TF-IDF terms per document (smoothed
    idf = ln((N+1)/(df+1)), scores rounded to 6 BEFORE ranking, word
    tie-break). The per-doc argmax is a row_number window PARTITIONED
    by doc_id — thousands of small partitions, never a global sort —
    over a tf relation the (doc, word) hash agg already shrank. The
    %10 slice keeps the declared output compact; the plan is
    identical without it."""
    docs = load(spark, d, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "w")
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter((F.col("rnk") <= KW_TOPK) & (F.col("doc_id") % 10 == 0))
        .select("doc_id", "rnk", "w", "tfidf")
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# Binary-embedding Hamming retrieval
# --------------------------------------------------------------------------

HAM_TOPK = 5

# Sign-binarized 64-bit signatures (bit i = dim i > 0), shared by
# q_emb_hamming_knn and q_ml_label_noise_knn (pipeline8).
HAM_SIG_SQL = """sig AS (
          SELECT vec_id,
                 SUM(CASE WHEN i < 32 AND embedding[i + 1] > 0
                          THEN (1::BIGINT << i) ELSE 0 END) AS lo,
                 SUM(CASE WHEN i >= 32 AND embedding[i + 1] > 0
                          THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS hi
          FROM embeddings,
               LATERAL (SELECT unnest(generate_series(0, 63)) AS i)
          GROUP BY vec_id
        )"""


def hamming_sig(emb):
    """(vec_id, lo, hi): Spark mirror of HAM_SIG_SQL — one fused
    O(d) fold per row, no explode."""

    def word(lo_bit: int) -> F.Column:
        return F.expr(
            f"aggregate(sequence({lo_bit}, {lo_bit + 31}), 0L,"
            " (a, i) -> a + IF(element_at(embedding, i + 1) > 0,"
            f" shiftleft(1L, i - {lo_bit}), 0L))"
        )

    return emb.select("vec_id", word(0).alias("lo"), word(32).alias("hi"))


@query(
    "q_emb_hamming_knn",
    oracle=f"""
        WITH {HAM_SIG_SQL},
        probes AS (SELECT * FROM sig WHERE vec_id % 100 = 0),
        scored AS (
          SELECT p.vec_id AS probe_id, s.vec_id AS neighbor_id,
                 bit_count(xor(p.lo, s.lo)) + bit_count(xor(p.hi, s.hi))
                     AS hamming
          FROM probes p JOIN sig s ON s.vec_id <> p.vec_id
        ),
        ranked AS (
          SELECT probe_id, neighbor_id, hamming,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                                    ORDER BY hamming, neighbor_id) AS rnk
          FROM scored
        )
        SELECT probe_id, rnk, neighbor_id, hamming
        FROM ranked WHERE rnk <= {HAM_TOPK}
        ORDER BY probe_id, rnk
    """,
)
def q_emb_hamming_knn(spark, d):
    """Binary-embedding retrieval: sign-binarize each vector into two
    32-bit words (bit i = dim i > 0 — SRP with axis-aligned planes),
    then rank neighbors by Hamming distance = popcount of the XORs.
    This is the 64x-compression retrieval tier: signatures are 8
    bytes/vector instead of 256, distance is two XOR+popcount codegen
    ops instead of an O(d) float fold, and the signature build is one
    fused O(d) fold per row. The probe set broadcasts (bounded
    fan-out, same shape as q_sim_knn_brute); per-probe rank windows
    partition by probe. Exact Hamming on both engines — no float
    anywhere past the sign."""
    emb = load(spark, d, "embeddings")
    sig = hamming_sig(emb)
    probes = sig.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
    )
    scored = sig.join(
        F.broadcast(probes), sig.vec_id != probes.probe_id
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("p_lo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("p_hi").bitwiseXOR(F.col("hi")))
        ).alias("hamming"),
    )
    w = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HAM_TOPK)
        .select("probe_id", "rnk", "neighbor_id", "hamming")
        .orderBy("probe_id", "rnk")
    )


# --------------------------------------------------------------------------
# Grid-bucketed ANN (fully declared approximate neighbor search)
# --------------------------------------------------------------------------

GRID_CELL = 0.1
GRID_TOPK = 5
GRID_Q = 1_000_000  # component quantization: q = floor(x * 1e6)


@query(
    "q_sim_ann_grid",
    oracle=f"""
        WITH cells AS (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * {GRID_Q})
                               AS BIGINT)) AS q,
                 CAST(floor(CAST(embedding[1] AS DOUBLE) / {GRID_CELL})
                      AS BIGINT) AS cx,
                 CAST(floor(CAST(embedding[2] AS DOUBLE) / {GRID_CELL})
                      AS BIGINT) AS cy
          FROM embeddings
        ),
        probes AS (SELECT * FROM cells WHERE vec_id % 100 = 0),
        offs AS (SELECT unnest([-1, 0, 1]) AS d),
        cand AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> (p.q[i] - c.q[i]) * (p.q[i] - c.q[i])))
                      AS BIGINT) AS dist2
          FROM probes p, offs ox, offs oy
          JOIN cells c
            ON c.cx = p.cx + ox.d AND c.cy = p.cy + oy.d
          WHERE c.vec_id <> p.vec_id
        ),
        ranked AS (
          SELECT probe_id, neighbor_id, dist2,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                                    ORDER BY dist2, neighbor_id) AS rnk
          FROM cand
        )
        SELECT probe_id, rnk, neighbor_id, dist2
        FROM ranked WHERE rnk <= {GRID_TOPK}
        ORDER BY probe_id, rnk
    """,
)
def q_sim_ann_grid(spark, d):
    """Fully DECLARED approximate neighbor search: vectors bucket into
    a deterministic 2-D grid on their first two dimensions (cell =
    floor(dim/0.1)); each probe scores only the 3x3 neighborhood of
    its cell and keeps the 5 nearest. Unlike IVF (kmeans cells —
    rows-only), the grid quantizer is pure SQL, so the WHOLE ANN path
    is hash-verified against DuckDB. Distances are EXACT integers:
    components quantize to floor(x*1e6) and the squared Euclidean
    distance is a BIGINT fold — a float cosine here hit a last-ulp
    round-6 boundary at sf0.1 (Spark fold vs DuckDB
    list_cosine_similarity differ in the final ulp, and ~7.5k rounded
    candidates made a collision likely), while integer distance can
    never disagree. Scale shape: probe fan-out is 9 cell keys ->
    equi-join on (cx, cy) — candidates are cell-population-bounded,
    never the full corpus; the O(d) integer fold runs on candidates
    only, feeding a per-probe rank window."""
    emb = load(spark, d, "embeddings")
    cells = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {GRID_Q}) as bigint))"
        ).alias("q"),
        F.floor(
            F.element_at("embedding", 1).cast("double") / GRID_CELL
        ).cast("long").alias("cx"),
        F.floor(
            F.element_at("embedding", 2).cast("double") / GRID_CELL
        ).cast("long").alias("cy"),
    )
    offs = [-1, 0, 1]
    probes = (
        cells.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("q").alias("pq"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("cx") + dx).alias("cx"),
                            (F.col("cy") + dy).alias("cy"),
                        )
                        for dx in offs
                        for dy in offs
                    ]
                )
            ).alias("cell"),
        )
        .select("probe_id", "pq", "cell.cx", "cell.cy")
    )
    cand = (
        cells.join(F.broadcast(probes), ["cx", "cy"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            sq_dist("pq", "q").alias("dist2"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("dist2", "neighbor_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= GRID_TOPK)
        .select("probe_id", "rnk", "neighbor_id", "dist2")
        .orderBy("probe_id", "rnk")
    )


# --------------------------------------------------------------------------
# Dedup-tier funnel report
# --------------------------------------------------------------------------


_DEDUP_FUNNEL_ORACLE = f"""
    WITH RECURSIVE {DUP_COMPONENTS_CTES},
    docs_t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS nw,
             sha256(lower(trim(text))) AS exact_key,
             md5(array_to_string(list_sort(string_split(text, ' ')),
                                 ' ')) AS bow_key
      FROM documents
    ),
    exact_t AS (
      SELECT COUNT(*) AS n_groups,
             SUM(kept_nw) AS tokens_kept
      FROM (SELECT exact_key, arg_min(nw, doc_id) AS kept_nw
            FROM docs_t GROUP BY exact_key)
    ),
    bow_t AS (
      SELECT COUNT(*) AS n_groups,
             SUM(kept_nw) AS tokens_kept
      FROM (SELECT bow_key, arg_min(nw, doc_id) AS kept_nw
            FROM docs_t GROUP BY bow_key)
    ),
    near_t AS (
      SELECT COUNT(*) AS n_groups,
             SUM(kept_nw) AS tokens_kept
      FROM (SELECT c.cluster_id, arg_min(d.nw, d.doc_id) AS kept_nw
            FROM comp c JOIN docs_t d ON d.doc_id = c.doc_id
            GROUP BY c.cluster_id)
    ),
    totals AS (
      SELECT COUNT(*) AS n_docs, SUM(nw) AS n_tokens FROM docs_t
    )
    SELECT tier, t.n_docs, x.n_groups,
           t.n_docs - x.n_groups AS n_removable,
           CAST(t.n_tokens - x.tokens_kept AS BIGINT)
               AS tokens_removed
    FROM totals t, (
      SELECT 'tier1_exact' AS tier, * FROM exact_t
      UNION ALL SELECT 'tier2_bow', * FROM bow_t
      UNION ALL SELECT 'tier3_neardup', * FROM near_t
    ) x
    ORDER BY tier
"""


@query("q_dedup_funnel", oracle=_DEDUP_FUNNEL_ORACLE)
def q_dedup_funnel(spark, d):
    """Dedup-tier funnel: what each successive tier would remove —
    exact byte-hash, bag-of-words, MinHash-LSH transitive clusters —
    as group counts, removable docs, and removable token mass (keeper
    = min doc_id per group, so the kept-token sum is deterministic).
    This is the report a curation run publishes before committing a
    dedup level. All three tiers are aggregation-shaped over existing
    machinery: two hash aggs on digests plus the memoized
    dup_components snapshot (built once per corpus — the same one
    q_dedup_clusters/q_dedup_canonical ride); min_by/arg_min picks
    keeper token counts without a join back."""
    docs = load(spark, d, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("nw"),
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("exact_key"),
        F.md5(
            F.array_join(F.sort_array(F.split("text", " ")), " ")
        ).alias("bow_key"),
    )

    def tier(grouped, name):
        g = grouped.agg(F.min_by("nw", "doc_id").alias("kept_nw"))
        return g.agg(
            F.lit(name).alias("tier"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("kept_nw").alias("tokens_kept"),
        )

    comp = dup_components(spark, d).select(
        "doc_id", F.col("cluster_id").alias("grp")
    )
    near = comp.join(docs, "doc_id").groupBy("grp")
    tiers = (
        tier(docs.groupBy("exact_key"), "tier1_exact")
        .unionAll(tier(docs.groupBy("bow_key"), "tier2_bow"))
        .unionAll(tier(near, "tier3_neardup"))
    )
    totals = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nw").alias("n_tokens"),
    )
    return (
        tiers.crossJoin(F.broadcast(totals))
        .select(
            "tier",
            "n_docs",
            "n_groups",
            (F.col("n_docs") - F.col("n_groups")).alias("n_removable"),
            (F.col("n_tokens") - F.col("tokens_kept")).alias(
                "tokens_removed"
            ),
        )
        .orderBy("tier")
    )


# --------------------------------------------------------------------------
# Bigram-LM perplexity (KenLM-style quality gate)
# --------------------------------------------------------------------------


@query(
    "q_text_perplexity",
    oracle="""
        WITH words AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        bigrams AS (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
          FROM words,
               LATERAL (SELECT unnest(generate_series(1, len(w) - 1))
                        AS i)
          WHERE len(w) >= 2
        ),
        bg_counts AS (
          SELECT w1, w2, COUNT(*) AS c FROM bigrams GROUP BY w1, w2
        ),
        ctx_counts AS (
          SELECT w1, COUNT(*) AS ctx FROM bigrams GROUP BY w1
        ),
        vocab AS (
          SELECT COUNT(DISTINCT word) AS v FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
          )
        ),
        scored AS (
          SELECT b.doc_id,
                 CAST(-ln((g.c + 1.0) / (x.ctx + v.v))
                      AS DECIMAL(30,10)) AS nll
          FROM bigrams b
          JOIN bg_counts g ON g.w1 = b.w1 AND g.w2 = b.w2
          JOIN ctx_counts x ON x.w1 = b.w1
          CROSS JOIN vocab v
          WHERE b.doc_id % 10 = 0
        )
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               CAST(floor(CAST(SUM(nll) AS DOUBLE) / COUNT(*) * 1000000)
                    AS BIGINT) AS log_ppl_micro
        FROM scored
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def q_text_perplexity(spark, d):
    """Bigram-LM perplexity per document (add-1 smoothing over the
    corpus's own counts) — the KenLM-style fluency gate LLM pipelines
    run to drop gibberish before training. The declared trick is the
    pagerank one: each -ln p(w2|w1) quantizes to DECIMAL(30,10) and
    the per-doc sum is EXACT, so the float-order-sensitive part of a
    log-likelihood — the summation — is order-free on both engines
    (libm ln agrees to the last ulp on identical double inputs, and
    the quantization absorbs that). The declared metric is the mean
    NLL (log-perplexity) as integer micro — perplexity = exp of it;
    declaring the log form keeps the output free of a final
    cross-library exp() call. Counts shrink map-side (bigram
    and context aggs), the scored join is equi on the bigram key, and
    the %10 slice bounds the declared output; at 100 TB the LM counts
    are the big-but-aggregated side, exactly like BM25's df table."""
    docs = load(spark, d, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 2
    )
    bigrams = w.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) as w1,"
                "             element_at(w, i + 1) as w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    bg_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    ctx_counts = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("ctx"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .agg(F.countDistinct("word").alias("v"))
    )
    scored = (
        bigrams.filter(F.col("doc_id") % 10 == 0)
        .join(bg_counts, ["w1", "w2"])
        .join(ctx_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.col("c") + 1.0) / (F.col("ctx") + F.col("v"))
                )
            ).cast(DEC).alias("nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.floor(
                F.sum("nll").cast("double") / F.count(F.lit(1)) * 1000000
            ).alias("log_ppl_micro"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Per-source KL divergence from the corpus word distribution
# --------------------------------------------------------------------------


@query(
    "q_text_kl_source",
    oracle="""
        WITH words AS (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents
        ),
        src_counts AS (
          SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
        ),
        src_totals AS (
          SELECT source, SUM(c) AS n FROM src_counts GROUP BY source
        ),
        glob_counts AS (
          SELECT w, SUM(c) AS cg FROM src_counts GROUP BY w
        ),
        glob_total AS (SELECT SUM(cg) AS ng FROM glob_counts),
        terms AS (
          SELECT s.source,
                 CAST((s.c / (1.0 * t.n))
                      * ln((s.c / (1.0 * t.n))
                           / (g.cg / (1.0 * gt.ng)))
                      AS DECIMAL(30,10)) AS term
          FROM src_counts s
          JOIN src_totals t ON t.source = s.source
          JOIN glob_counts g ON g.w = s.w
          CROSS JOIN glob_total gt
        )
        SELECT t.source, CAST(s.n AS BIGINT) AS n_tokens,
               CAST(floor(CAST(SUM(t.term) AS DOUBLE) * 1000000)
                    AS BIGINT) AS kl_micro
        FROM terms t JOIN src_totals s ON s.source = t.source
        GROUP BY t.source, s.n
        ORDER BY t.source
    """,
)
def q_text_kl_source(spark, d):
    """KL divergence of each source's word distribution from the
    corpus distribution — the drift detector that flags a source
    whose language shifted (new crawl, new template, new spam
    campaign). Same declared-float construction as perplexity: the
    per-word p_s*ln(p_s/p_g) terms quantize to DECIMAL(30,10) and sum
    exactly, so aggregation order cannot move the result. Two stacked
    combinable aggs build both distributions in one pass; the term
    join is equi on the word."""
    docs = load(spark, d, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    src_counts = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    src_totals = src_counts.groupBy("source").agg(F.sum("c").alias("n"))
    glob_counts = src_counts.groupBy("w").agg(F.sum("c").alias("cg"))
    glob_total = glob_counts.agg(F.sum("cg").alias("ng"))
    p_s = F.col("c") / (1.0 * F.col("n"))
    p_g = F.col("cg") / (1.0 * F.col("ng"))
    terms = (
        src_counts.join(src_totals, "source")
        .join(glob_counts, "w")
        .crossJoin(F.broadcast(glob_total))
        .select(
            "source",
            "n",
            (p_s * F.log(p_s / p_g)).cast(DEC).alias("term"),
        )
    )
    return (
        terms.groupBy("source", F.col("n").alias("n_tokens"))
        .agg(
            F.floor(F.sum("term").cast("double") * 1000000).alias(
                "kl_micro"
            )
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# ANN recall measurement (grid ANN vs exact brute force)
# --------------------------------------------------------------------------


@query(
    "q_emb_recall_grid",
    oracle=f"""
        WITH cells AS (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * {GRID_Q})
                               AS BIGINT)) AS q,
                 CAST(floor(CAST(embedding[1] AS DOUBLE) / {GRID_CELL})
                      AS BIGINT) AS cx,
                 CAST(floor(CAST(embedding[2] AS DOUBLE) / {GRID_CELL})
                      AS BIGINT) AS cy
          FROM embeddings
        ),
        probes AS (SELECT * FROM cells WHERE vec_id % 100 = 0),
        offs AS (SELECT unnest([-1, 0, 1]) AS d),
        ann AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY p.vec_id
                     ORDER BY list_sum(list_transform(
                         generate_series(1, 64),
                         i -> (p.q[i] - c.q[i]) * (p.q[i] - c.q[i]))),
                       c.vec_id) AS rnk
            FROM probes p, offs ox, offs oy
            JOIN cells c
              ON c.cx = p.cx + ox.d AND c.cy = p.cy + oy.d
            WHERE c.vec_id <> p.vec_id
          ) WHERE rnk <= {GRID_TOPK}
        ),
        brute AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY p.vec_id
                     ORDER BY list_sum(list_transform(
                         generate_series(1, 64),
                         i -> (p.q[i] - c.q[i]) * (p.q[i] - c.q[i]))),
                       c.vec_id) AS rnk
            FROM probes p JOIN cells c ON c.vec_id <> p.vec_id
          ) WHERE rnk <= {GRID_TOPK}
        )
        SELECT b.probe_id,
               COUNT(a.neighbor_id) AS n_hit,
               CAST(COUNT(a.neighbor_id) * 1000000 // {GRID_TOPK}
                    AS BIGINT) AS recall_ppm
        FROM brute b
        LEFT JOIN ann a
          ON a.probe_id = b.probe_id
         AND a.neighbor_id = b.neighbor_id
        GROUP BY b.probe_id
        ORDER BY b.probe_id
    """,
)
def q_emb_recall_grid(spark, d):
    """Recall@5 of the grid ANN against the exact brute force — the
    quality measurement every approximate index needs before it
    replaces the exact path, itself run as a declared query (both
    sides use the integer-quantized distance, so ground truth and
    candidate set are each deterministic). The brute side is the
    bounded probe fan-out (|probes| x corpus equi-free join — same
    shape as q_sim_knn_brute); the ANN side touches only the 3x3
    neighborhood. A probe whose true neighbors fall outside its cell
    neighborhood shows recall < 1 — the measured price of the
    9-cell probe budget."""
    emb = load(spark, d, "embeddings")
    quant = F.expr(
        f"transform(embedding, x -> cast(floor(cast(x as double)"
        f" * {GRID_Q}) as bigint))"
    )
    cells = emb.select(
        "vec_id",
        quant.alias("q"),
        F.floor(
            F.element_at("embedding", 1).cast("double") / GRID_CELL
        ).cast("long").alias("cx"),
        F.floor(
            F.element_at("embedding", 2).cast("double") / GRID_CELL
        ).cast("long").alias("cy"),
    )
    dist = sq_dist("pq", "q")
    probes = cells.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("q").alias("pq"),
        F.col("cx").alias("pcx"),
        F.col("cy").alias("pcy"),
    )
    w = Window.partitionBy("probe_id").orderBy("dist2", "neighbor_id")

    def topk(cand):
        return (
            cand.select(
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                dist.alias("dist2"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= GRID_TOPK)
            .select("probe_id", "neighbor_id")
        )

    offs = [-1, 0, 1]
    ann_cand = (
        cells.join(
            F.broadcast(
                probes.select(
                    "probe_id",
                    "pq",
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    (F.col("pcx") + dx).alias("cx"),
                                    (F.col("pcy") + dy).alias("cy"),
                                )
                                for dx in offs
                                for dy in offs
                            ]
                        )
                    ).alias("cell"),
                ).select("probe_id", "pq", "cell.cx", "cell.cy")
            ),
            ["cx", "cy"],
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    brute_cand = cells.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    ann = topk(ann_cand)
    brute = topk(brute_cand)
    return (
        brute.alias("b")
        .join(
            ann.alias("a"),
            (F.col("a.probe_id") == F.col("b.probe_id"))
            & (F.col("a.neighbor_id") == F.col("b.neighbor_id")),
            "left",
        )
        .groupBy(F.col("b.probe_id").alias("probe_id"))
        .agg(
            F.count(F.col("a.neighbor_id")).alias("n_hit"),
            F.expr(
                f"count(a.neighbor_id) * 1000000L div {GRID_TOPK}"
            ).alias("recall_ppm"),
        )
        .orderBy("probe_id")
    )
