"""LLM-pipeline + event-history operators, batch 6 (round 6):
batch sessionization, hourly OHLC rollup, SCD-2 history build,
word-distribution entropy scoring, and asymmetric containment dedup.

The first three are the event-history family a warehouse runs next to
the streaming jobs (streaming_batch.py holds the readStream twins):
sessionize assigns gap-based session ids in batch, OHLC is the
classic first/last/min/max time-bucket rollup, and SCD-2 turns a
change stream into validity intervals. The last two extend the text
family: entropy is the Gopher-style token-diversity quality signal,
and containment is the asymmetric dedup tier that catches quotes /
subset documents Jaccard misses (|A∩B|/|A| high while |A∩B|/|A∪B|
low when |A| ≪ |B|).

Scale notes: sessionize and SCD-2 are each ONE user-partitioned
window shuffle (lag/lead + running sum share the partitioning);
OHLC's two row_number orderings reuse one exchange and the final
hash agg emits |types|·|hours| cells regardless of corpus size;
entropy is explode → two combinable hash aggs; containment rides the
same DF-capped postings join as q_dedup_ngram (bigrams.bigram_overlap
— the fan-out-bounded, never-doc×doc core).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load, snapshot, write_parquet
from ._helpers import DEC
from .bigrams import (
    BIGRAM_PAIRS_CTES,
    NEAR_DUP_SYM_CTES,
    bigram_overlap,
    near_dup_sym,
)

# --------------------------------------------------------------------------
# Batch sessionization (gap-based session ids)
# --------------------------------------------------------------------------

SESSION_GAP_US = 1800 * 1_000_000  # 30 min, the industry-default gap


@query(
    "q_behavior_sessionize",
    oracle=f"""
        WITH o AS (
          SELECT user_id, event_id, ts, value,
                 lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
          FROM events
        ), s AS (
          SELECT *, CASE WHEN prev IS NULL
                           OR date_diff('microseconds', prev, ts)
                              > {SESSION_GAP_US}
                         THEN 1 ELSE 0 END AS s_new
          FROM o
        ), t AS (
          SELECT *, SUM(s_new) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)
                        AS session_id
          FROM s
        )
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS t_start,
               MAX(ts) AS t_end,
               date_diff('microseconds', MIN(ts), MAX(ts)) AS duration_us,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2)
                   AS sum_value
        FROM t
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
)
def q_behavior_sessionize(spark, d):
    """Batch sessionization: a new session starts when a user's
    inter-event gap exceeds 30 minutes — the batch twin of
    q_stream_session's session_window (the warehouse backfill job
    next to the streaming one). lag + running-sum-of-boundaries share
    ONE (user_id; ts, event_id) window partitioning, so the whole
    assignment is a single shuffle; the per-session rollup then aggs
    on (user_id, session_id), which is a refinement of the same key —
    at 100 TB this is two narrow passes over a user-partitioned
    stream, never a global sort. Ties broken by event_id on both
    engines; value sums on the exact decimal path."""
    ev = load(spark, d, "events").select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    sess = (
        ev.withColumn(
            "s_new",
            F.when(
                prev_us.isNull()
                | (F.unix_micros("ts") - prev_us > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("s_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("t_start"),
            F.max("ts").alias("t_end"),
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("duration_us"),
            F.round(
                F.sum(F.col("value").cast(DEC)).cast("double"), 2
            ).alias("sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------
# Hourly OHLC rollup (first/last/min/max per time bucket)
# --------------------------------------------------------------------------


@query(
    "q_ts_ohlc",
    oracle="""
        WITH h AS (
          SELECT event_type, event_id, value,
                 CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, ts
          FROM events
        ), rn AS (
          SELECT *,
                 row_number() OVER (PARTITION BY event_type, hour
                                    ORDER BY ts, event_id) AS rn_f,
                 row_number() OVER (PARTITION BY event_type, hour
                                    ORDER BY ts DESC, event_id DESC) AS rn_l
          FROM h
        )
        SELECT event_type, hour,
               MAX(CASE WHEN rn_f = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MAX(CASE WHEN rn_l = 1 THEN value END) AS close,
               COUNT(*) AS volume,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2)
                   AS turnover
        FROM rn
        GROUP BY event_type, hour
        ORDER BY event_type, hour
    """,
)
def q_ts_ohlc(spark, d):
    """Hourly OHLC (open/high/low/close) per event type — the
    canonical first/last/extremes time-bucket rollup of metric and
    market pipelines. First/last are picked by row_number under a
    total order (ts, event_id), so ties cannot flip across engines;
    both orderings share the (event_type, hour) partitioning, so
    Spark reuses one exchange and adds a sort per direction. The
    final hash agg emits |event_types|·|hours| cells — bounded by the
    calendar, not the corpus, so the result of a 100 TB scan is KBs.
    open/high/low/close are picked raw doubles (no float summation);
    the turnover sum runs on the exact decimal path."""
    ev = load(spark, d, "events").select(
        "event_type",
        "event_id",
        "value",
        "ts",
        F.date_trunc("hour", "ts").alias("hour"),
    )
    wf = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    wl = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = ev.withColumn("rn_f", F.row_number().over(wf)).withColumn(
        "rn_l", F.row_number().over(wl)
    )
    return (
        rn.groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn_f") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_l") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.round(
                F.sum(F.col("value").cast(DEC)).cast("double"), 2
            ).alias("turnover"),
        )
        .orderBy("event_type", "hour")
    )


# --------------------------------------------------------------------------
# SCD-2 history build (change stream -> validity intervals)
# --------------------------------------------------------------------------


@query(
    "q_cdc_scd2",
    oracle="""
        SELECT user_id,
               CAST(row_number() OVER w AS BIGINT) AS version,
               ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               value,
               CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
                   AS is_current
        FROM events
        WHERE user_id % 20 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, version
    """,
)
def q_cdc_scd2(spark, d):
    """SCD type-2 history build: each change event for a key becomes
    a version row with [valid_from, valid_to) bounds and a current
    flag — the dimension-history twin of q_upsert_snapshot's SCD-1
    overwrite. ONE key-partitioned window shuffle computes version
    number, interval end (lead), and currency together; at 100 TB
    this partitions by the natural key and never sees a global sort.
    The deterministic user_id % 20 slice keeps the declared output a
    bounded sample of the version table (the operator itself is
    slice-free); tie order pinned by (ts, event_id) on both
    engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        load(spark, d, "events")
        .filter(F.col("user_id") % 20 == 0)
        .select("user_id", "event_id", "ts", "value")
    )
    return (
        ev.select(
            "user_id",
            F.row_number().over(w).cast("long").alias("version"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "value",
            F.when(F.lead("ts").over(w).isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# --------------------------------------------------------------------------
# Word-distribution entropy (token-diversity quality signal)
# --------------------------------------------------------------------------


@query(
    "q_text_entropy",
    oracle="""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents
        ), counts AS (
          SELECT doc_id, word, COUNT(*) AS c
          FROM words GROUP BY doc_id, word
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct,
               ROUND(ln(CAST(SUM(c) AS DOUBLE))
                     - CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE))
                                     AS DECIMAL(30,10))) AS DOUBLE)
                       / SUM(c), 6) AS entropy
        FROM counts
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def q_text_entropy(spark, d):
    """Per-document Shannon entropy of the word distribution — the
    token-diversity quality signal (low entropy = degenerate/repetitive
    text; complements q_text_repetition's n-gram repeat ratios).
    Computed as ln(n) - Σ c·ln(c) / n so every ln argument is an
    INTEGER count — both engines evaluate ln on identical inputs, and
    the term sum runs on the exact decimal path (the same portability
    posture as q_text_pmi's shared ln expression). Shape: explode →
    (doc, word) hash agg → doc hash agg, both combinable, no windows —
    the shuffles carry counts, never text."""
    docs = load(spark, d, "documents")
    counts = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                F.log(F.sum("c").cast("double"))
                - F.sum(
                    (F.col("c") * F.log(F.col("c").cast("double"))).cast(
                        DEC
                    )
                ).cast("double")
                / F.sum("c"),
                6,
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Asymmetric containment (quote / subset-document detection)
# --------------------------------------------------------------------------

CONTAIN_TAU = 0.6


@query(
    "q_text_containment",
    oracle=f"""
        WITH {BIGRAM_PAIRS_CTES},
        scored AS (
            SELECT doc_a, doc_b,
                   ROUND(c * 1.0 / na, 6) AS cont_a,
                   ROUND(c * 1.0 / nb, 6) AS cont_b,
                   jacc
            FROM pairs
        )
        SELECT doc_a, doc_b, cont_a, cont_b, jacc
        FROM scored
        WHERE greatest(cont_a, cont_b) >= {CONTAIN_TAU}
        ORDER BY doc_a, doc_b
    """,
)
def q_text_containment(spark, d):
    """Asymmetric gram containment C(A,B) = |A∩B| / |A| for candidate
    pairs — the dedup tier that catches quotes and subset documents:
    a short doc fully embedded in a long one has high containment but
    low Jaccard, so q_dedup_ngram's symmetric threshold misses it.
    Rides the same DF-capped postings join as q_dedup_ngram
    (bigrams.bigram_overlap — fan-out bounded by DF_CAP, never
    doc×doc); both directions plus Jaccard are emitted so the caller
    sees WHY a pair surfaced. Ratios rounded to 6 before the
    threshold on both engines."""
    ov = bigram_overlap(spark, d)
    return (
        ov.select(
            "doc_a",
            "doc_b",
            F.round(F.col("c") / F.col("na"), 6).alias("cont_a"),
            F.round(F.col("c") / F.col("nb"), 6).alias("cont_b"),
            F.round(
                F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6
            ).alias("jacc"),
        )
        .filter(F.greatest("cont_a", "cont_b") >= CONTAIN_TAU)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG / string_agg)
# --------------------------------------------------------------------------


@query(
    "q_agg_listagg",
    oracle="""
        SELECT r.r_name AS region,
               COUNT(*) AS n_nations,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY region
    """,
)
def q_agg_listagg(spark, d):
    """Ordered-set string aggregation — LISTAGG ... WITHIN GROUP
    (Spark 4) vs DuckDB string_agg(... ORDER BY): the report-building
    aggregate that needs a DETERMINISTIC element order inside the
    concatenated value (an unordered collect_list + array_join varies
    with partitioning). Broadcast dim⋈dim join, one hash agg; the
    explicit ORDER BY inside the aggregate is what makes the string
    hash-stable across engines and shuffle layouts."""
    region = load(spark, d, "region")
    nation = load(spark, d, "nation")
    joined = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
    )
    return (
        joined.groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("nations_csv"),
        )
        .orderBy("region")
    )


# --------------------------------------------------------------------------
# Readability scoring (syllable-proxy Flesch)
# --------------------------------------------------------------------------

WORDS_PER_SENT = 20  # pseudo-sentence length (fixture text is unpunctuated)


@query(
    "q_text_readability",
    oracle=f"""
        WITH m AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_words,
                 len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS n_syll
          FROM documents
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_syll AS BIGINT) AS n_syllables,
               ROUND(n_syll * 1.0 / n_words, 6) AS syll_per_word,
               ROUND(206.835
                     - 1.015 * (n_words * 1.0
                                / ceil(n_words * 1.0 / {WORDS_PER_SENT}))
                     - 84.6 * (n_syll * 1.0 / n_words), 6) AS flesch_proxy
        FROM m
        ORDER BY doc_id
    """,
)
def q_text_readability(spark, d):
    """Flesch-style readability proxy — the classic text-quality
    signal, adapted to the fixture's unpunctuated text: syllables are
    approximated by vowel-group count (regexp_count, identical
    `[aeiouAEIOU]+` semantics in Java regex and RE2), sentences by
    fixed WORDS_PER_SENT-word pseudo-sentences (documented proxy;
    real corpora use punctuation splits). Pure codegen projection — two regex/split
    passes per row, zero shuffles, zero Python; all arithmetic is
    count-ratio based so both engines agree at round-6."""
    docs = load(spark, d, "documents")
    m = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.regexp_count(F.col("text"), F.lit("[aeiouAEIOU]+"))
        .cast("long")
        .alias("n_syllables"),
    )
    sents = F.ceil(F.col("n_words") / F.lit(float(WORDS_PER_SENT)))
    return m.select(
        "doc_id",
        "n_words",
        "n_syllables",
        F.round(F.col("n_syllables") / F.col("n_words"), 6).alias(
            "syll_per_word"
        ),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("n_words") / sents)
            - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words")),
            6,
        ).alias("flesch_proxy"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# CSV sink/source round-trip (declared IO determinism check)
# --------------------------------------------------------------------------


@query(
    "q_source_csv_roundtrip",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
                          AS DOUBLE), 2) AS sum_price,
               MIN(l_shipdate) AS min_ship,
               MAX(l_shipdate) AS max_ship
        FROM lineitem
        WHERE l_orderkey % 100 = 0
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q_source_csv_roundtrip(spark, d):
    """CSV sink → source round-trip, hash-declared: a deterministic
    lineitem slice is written to CSV (µs-pinned timestampFormat — the
    default format silently truncates to milliseconds) and read back
    with the writer's explicit schema (schema-on-read; inferSchema
    would be a second scan AND can guess differently between runs),
    then aggregated. The oracle computes the same aggregate from the
    parquet source directly, so the hash proves the text round-trip
    is LOSSLESS for bigint/double/string/timestamp — the declared-
    contract twin of tests/test_sources.py's format matrix."""
    from ..sources.io import read_table, warehouse_path, write_table

    path = warehouse_path("csv_roundtrip", d)
    li = load(spark, d, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    ).select("l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate")
    write_table(li, path, fmt="csv")
    back = read_table(
        spark,
        path,
        fmt="csv",
        schema="l_orderkey bigint, l_returnflag string, "
        "l_extendedprice double, l_shipdate timestamp_ntz",
    )
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double"), 2
            ).alias("sum_price"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# EWMA smoothing (exact power-of-two weights)
# --------------------------------------------------------------------------

EWMA_LAGS = 8  # window depth; alpha = 0.5 so weights are 2^-j, exact


def _ewma_terms(lag_fn) -> tuple[str, str]:
    """(numerator, denominator) expression strings: lag_fn(j) renders
    the j-th lag of value; weights 2^-j are exact binary doubles and
    the chained left-associative + gives both engines the IDENTICAL
    rounding sequence."""
    num = " + ".join(
        f"coalesce({lag_fn(j)} * {2.0 ** -j!r}, 0.0)"
        for j in range(EWMA_LAGS)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_fn(j)} IS NOT NULL THEN {2.0 ** -j!r} "
        "ELSE 0.0 END)"
        for j in range(EWMA_LAGS)
    )
    return num, den


@query(
    "q_ts_ewma",
    oracle=(
        lambda num_den: f"""
        SELECT user_id, event_id, ts, value,
               ROUND(({num_den[0]}) / ({num_den[1]}), 6) AS ewma
        FROM events
        WHERE user_id % 50 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, ts, event_id
    """
    )(_ewma_terms(lambda j: "value" if j == 0 else f"lag(value, {j}) OVER w")),
)
def q_ts_ewma(spark, d):
    """Exponentially weighted moving average per user (α = 0.5, last
    8 observations) — the smoothing pass behind anomaly baselines and
    trend features. α = 0.5 is chosen deliberately: the weights 2^-j
    are EXACT binary doubles and each value·2^-j is a pure exponent
    shift, so the only rounding is the chained addition — which both
    engines perform in the identical left-associative order, making
    the result deterministic WITHOUT the decimal detour (ln/pow never
    appear). Head-of-series lags are excluded and the weight mass
    renormalized (partial-window semantics). ONE user-partitioned
    window shuffle evaluates all 8 lags; the deterministic user slice
    bounds the declared output."""
    ev = (
        load(spark, d, "events")
        .filter(F.col("user_id") % 50 == 0)
        .select("user_id", "event_id", "ts", "value")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev
    for j in range(1, EWMA_LAGS):
        lagged = lagged.withColumn(f"l{j}", F.lag("value", j).over(w))
    num, den = _ewma_terms(lambda j: "value" if j == 0 else f"l{j}")
    return (
        lagged.withColumn("ewma", F.round(F.expr(num) / F.expr(den), 6))
        .select("user_id", "event_id", "ts", "value", "ewma")
        .orderBy("user_id", "ts", "event_id")
    )


# --------------------------------------------------------------------------
# PageRank over the near-dup graph
# --------------------------------------------------------------------------


def _pagerank_oracle(iterations: int = 5) -> str:
    """Unrolled-iteration SQL mirror of operators/pagerank.pagerank
    with exact_contribs=True: DuckDB 1.0 can't aggregate inside a
    recursive CTE, and the iteration count is fixed anyway, so each
    round is a chained CTE. Every float expression reproduces the
    operator's Python/Spark arithmetic token for token (teleport =
    (1.0 - 0.85) / n, dangling = ((n - na) * r_iso) / n, contrib =
    exact DECIMAL(30,10) sum cast back to double), so the ranks are
    bit-identical doubles on both engines."""
    riso = "(1.0 / c.n)"
    ctes = [
        """active AS (
          SELECT src AS node, COUNT(*) AS out_deg FROM sym GROUP BY src
        )""",
        """counts AS (
          SELECT (SELECT COUNT(*) FROM documents) AS n,
                 (SELECT COUNT(*) FROM active) AS na
        )""",
        """r0 AS (
          SELECT a.node, a.out_deg, 1.0 / c.n AS rank
          FROM active a CROSS JOIN counts c
        )""",
    ]
    for t in range(1, iterations + 1):
        dang = f"(((c.n - c.na) * {riso}) / c.n)"
        ctes.append(f"""r{t} AS (
          SELECT a.node, a.out_deg,
                 (1.0 - 0.85) / c.n
                 + 0.85 * (COALESCE(ct.contrib, 0.0) + {dang}) AS rank
          FROM active a
          CROSS JOIN counts c
          LEFT JOIN (
            SELECT s.dst AS node,
                   CAST(SUM(CAST(b.rank / b.out_deg AS DECIMAL(30,10)))
                        AS DOUBLE) AS contrib
            FROM sym s JOIN r{t - 1} b ON b.node = s.src
            GROUP BY s.dst
          ) ct ON ct.node = a.node
        )""")
        riso = f"((1.0 - 0.85) / c.n + 0.85 * ({dang}))"
    ctes.append(f"""final AS (
          SELECT node, rank, out_deg FROM r{iterations}
          UNION ALL
          SELECT doc.doc_id AS node, {riso} AS rank, 0 AS out_deg
          FROM documents doc CROSS JOIN counts c
          LEFT JOIN active a ON a.node = doc.doc_id
          WHERE a.node IS NULL
        )""")
    return f"""
        WITH {NEAR_DUP_SYM_CTES},
        {", ".join(ctes)}
        SELECT node AS doc_id,
               ROUND(rank, 6) AS rank,
               CAST(out_deg AS BIGINT) AS degree
        FROM final
        ORDER BY final.rank DESC, node
        LIMIT 20
    """


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark, d):
    """PageRank importance over the exact-Jaccard near-dup graph (the
    same edge set as q_graph_triangles) — the 'which document is the
    hub of this duplication neighborhood' signal a curation pipeline
    uses to pick what to inspect first. Edges are symmetrized (the
    graph is undirected); isolated docs are dangling and their mass
    redistributes, so Σrank stays 1 (pinned by tests/test_properties).
    5 fixed iterations of join + combinable hash agg
    (operators/pagerank.py). DECLARED as of round 7: per-edge
    contributions quantize to DECIMAL(30,10) and sum exactly
    (exact_contribs=True), which makes every iteration's ranks
    order-independent bit-identical doubles, so an unrolled-iteration
    DuckDB oracle replays the whole propagation — iterative float
    graph algorithms CAN be hash-verified when messages ride the
    decimal policy. Output: top-20 hubs by rank (rounded AFTER
    ordering by the raw value, doc_id tie-break)."""
    from ..operators.pagerank import pagerank

    docs = load(spark, d, "documents")
    pr = pagerank(
        docs.select("doc_id"), near_dup_sym(spark, d), "doc_id", "src",
        "dst", exact_contribs=True,
    )
    return (
        pr.orderBy(F.col("rank").desc(), F.col("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            F.round("rank", 6).alias("rank"),
            F.col("out_degree").cast("long").alias("degree"),
        )
    )


# --------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streaks
# --------------------------------------------------------------------------


@query(
    "q_behavior_streaks",
    oracle="""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
          FROM events
        ), isl AS (
          SELECT user_id, d,
                 d - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY d) AS INTEGER)
                     AS island
          FROM days
        ), streaks AS (
          SELECT user_id, island, COUNT(*) AS len,
                 MIN(d) AS streak_start, MAX(d) AS streak_end
          FROM isl GROUP BY user_id, island
        ), ranked AS (
          SELECT user_id, len, streak_start, streak_end,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY len DESC, streak_start)
                     AS rk,
                 COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
          FROM streaks
        )
        SELECT user_id, CAST(len AS BIGINT) AS longest_streak,
               streak_start, streak_end,
               CAST(n_streaks AS BIGINT) AS n_streaks
        FROM ranked WHERE rk = 1
        ORDER BY user_id
    """,
)
def q_behavior_streaks(spark, d):
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands idiom (retention / habit metrics): distinct
    activity days, island id = day − row_number (constant within a
    consecutive run), then per-island length and a per-user top-1.
    Complements q_behavior_sessionize: sessions split on a TIME gap
    threshold, streaks on CALENDAR-day continuity. All three windows
    and both aggregations share the user_id partitioning, so the
    whole query is one shuffle on user_id after the distinct-days
    pre-agg (itself combinable). Tie between equal-length streaks
    breaks to the earliest start on both engines."""
    days = (
        load(spark, d, "events")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("dd"))
        .distinct()
    )
    wi = Window.partitionBy("user_id").orderBy("dd")
    isl = days.withColumn(
        "island", F.date_sub("dd", F.row_number().over(wi))
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("dd").alias("streak_start"),
        F.max("dd").alias("streak_end"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start")
    )
    wc = Window.partitionBy("user_id")
    return (
        streaks.withColumn("rk", F.row_number().over(wr))
        .withColumn("n_streaks", F.count(F.lit(1)).over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak"),
            "streak_start",
            "streak_end",
            "n_streaks",
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Market-basket pair lift (co-occurrence mining)
# --------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 3


@query(
    "q_basket_lift",
    oracle=f"""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
          FROM lineitem
        ), n AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM items),
        item_n AS (
          SELECT item, COUNT(*) AS cnt FROM items GROUP BY item
        ), pair_n AS (
          SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS both_n
          FROM items a JOIN items b
            ON a.basket = b.basket AND a.item < b.item
          GROUP BY item_a, item_b
          HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
        )
        SELECT p.item_a, p.item_b, CAST(p.both_n AS BIGINT) AS both_n,
               ROUND(p.both_n * 1.0 / ia.cnt, 6) AS conf_a_b,
               ROUND(p.both_n * 1.0 * n.n_baskets
                     / (ia.cnt * ib.cnt), 6) AS lift
        FROM pair_n p
        JOIN item_n ia ON ia.item = p.item_a
        JOIN item_n ib ON ib.item = p.item_b
        CROSS JOIN n
        ORDER BY item_a, item_b
    """,
)
def q_basket_lift(spark, d):
    """Market-basket pair mining: support, confidence, and lift for
    part pairs co-occurring in an order — the co-occurrence analytics
    primitive (recommendation seeds, complement detection). Pairs
    generate MAP-SIDE from one sorted per-basket item set (fan-out
    C(items, 2) with items bounded by order size, ~7 lines) — never
    item×item; the min-support filter prunes before the stats joins,
    and the per-item count and basket-total sides of lift are small
    aggregates (item vocabulary, one scalar). Ratios rounded to 6 on
    both engines; integer-ratio arithmetic only.

    The basket total stays LAZY: a 1-row aggregate broadcast into the
    output projection (the q_win_pareto pattern) instead of an eager
    .count() folded back as a literal, so no job runs before the
    returned DataFrame executes and Catalyst/AQE reuses the per-basket
    collect_set agg's exchange across its three consumers (an explicit
    persist here BREAKS that reuse — the CLAUDE.md q_dedup_simhash
    trap)."""
    # r17: per-basket fan-out is order-size-bounded (~7 lines), so all
    # C(k, 2) item pairs generate MAP-SIDE from one sorted collect_set
    # per basket (the q_graph_copurchase shape) instead of the postings
    # self-join, which recomputed the distinct lineage on both branches
    # and pushed the pair fan-out through join machinery. collect_set
    # dedups (basket, item) itself, so the separate .distinct() pass is
    # gone too; sort_array ⇒ item_a < item_b, identical pair set.
    # item_n / n_baskets re-derive from the same grouped relation
    # (explode / count), riding its one exchange.
    grouped = (
        load(spark, d, "lineitem")
        .select(
            F.col("l_orderkey").alias("basket"),
            F.col("l_partkey").alias("item"),
        )
        .groupBy("basket")
        .agg(F.sort_array(F.collect_set("item")).alias("its"))
    )
    totals = grouped.agg(
        F.count(F.lit(1)).cast("double").alias("n_baskets")
    )
    item_n = (
        grouped.select(F.explode("its").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_n = (
        grouped.filter(F.size("its") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(its, (x, i) ->"
                    " transform(slice(its, i + 2, size(its) - i - 1),"
                    " y -> struct(x AS item_a, y AS item_b))))"
                )
            ).alias("pr")
        )
        .select("pr.item_a", "pr.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("both_n"))
        .filter(F.col("both_n") >= BASKET_MIN_SUPPORT)
    )
    ia = item_n.select(F.col("item").alias("item_a"), F.col("cnt").alias("cnt_a"))
    ib = item_n.select(F.col("item").alias("item_b"), F.col("cnt").alias("cnt_b"))
    return (
        pair_n.join(ia, "item_a")
        .join(ib, "item_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "item_a",
            "item_b",
            "both_n",
            F.round(F.col("both_n") / F.col("cnt_a"), 6).alias("conf_a_b"),
            F.round(
                F.col("both_n") * F.col("n_baskets")
                / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("item_a", "item_b")
    )


# --------------------------------------------------------------------------
# Weighted aggregates
# --------------------------------------------------------------------------


@query(
    "q_agg_weighted",
    oracle="""
        SELECT l_returnflag,
               ROUND(CAST(SUM(CAST(l_extendedprice * l_quantity
                                   AS DECIMAL(30,10))) AS DOUBLE)
                     / CAST(SUM(CAST(l_quantity AS DECIMAL(30,10)))
                            AS DOUBLE), 6) AS wavg_price,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(30,10))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_net_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS BIGINT)
                   AS total_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q_agg_weighted(spark, d):
    """Weighted aggregates: quantity-weighted mean price and mean
    net-of-discount price per return flag — the weighted-average
    surface plain AVG can't express. Both the weighted numerator
    (Σ price·qty) and the weight mass (Σ qty) run on the exact
    decimal path (per-row products are IEEE-deterministic; the sums
    are order-independent), so the ratio is identical on both engines
    before the round-6. One combinable hash agg, one shuffle carrying
    three decimals per group. spread=True parallelizes the per-row
    decimal product partials across cores (r17: 1-row-group fixture
    ran them in one scan task — 1.20 s → 0.94 s at sf0.1; no-op on
    splittable production inputs)."""
    li = load(spark, d, "lineitem", spread=True)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC)
                ).cast("double")
                / F.sum(F.col("l_quantity").cast(DEC)).cast("double"),
                6,
            ).alias("wavg_price"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast(DEC)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_net_price"),
            F.sum(F.col("l_quantity").cast(DEC))
            .cast("long")
            .alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Funnel step latency percentiles
# --------------------------------------------------------------------------


@query(
    "q_funnel_latency",
    oracle="""
        WITH firsts AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                     AS t_purchase
          FROM events GROUP BY user_id
        ), lat AS (
          SELECT user_id,
                 date_diff('microseconds', t_view, t_purchase) / 1000000.0
                     AS sec_to_convert
          FROM firsts
          WHERE t_view IS NOT NULL AND t_purchase IS NOT NULL
            AND t_purchase > t_view
        )
        SELECT COUNT(*) AS n_converted,
               ROUND(quantile_cont(sec_to_convert, 0.50), 6) AS p50_sec,
               ROUND(quantile_cont(sec_to_convert, 0.90), 6) AS p90_sec,
               ROUND(MIN(sec_to_convert), 6) AS min_sec,
               ROUND(MAX(sec_to_convert), 6) AS max_sec
        FROM lat
    """,
)
def q_funnel_latency(spark, d):
    """Time-to-convert distribution for the view→purchase funnel:
    per-user first-view and first-purchase (strictly after) and exact
    latency percentiles — the 'how long does conversion take' twin of
    q_funnel_ordered's 'how many convert'. One combinable per-user
    min-agg (conditional MIN, no window), then a single-group exact
    percentile over the converted users — the µs-integer diff divides
    by the literal 1e6 identically on both engines, so the seconds
    agree bitwise before round-6."""
    ev = load(spark, d, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    lat = firsts.filter(
        F.col("t_view").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") > F.col("t_view"))
    ).select(
        (
            (
                F.unix_micros("t_purchase") - F.unix_micros("t_view")
            )
            / F.lit(1000000.0)
        ).alias("sec_to_convert")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("sec_to_convert", F.lit(0.50)), 6).alias(
            "p50_sec"
        ),
        F.round(F.percentile("sec_to_convert", F.lit(0.90)), 6).alias(
            "p90_sec"
        ),
        F.round(F.min("sec_to_convert"), 6).alias("min_sec"),
        F.round(F.max("sec_to_convert"), 6).alias("max_sec"),
    )


# --------------------------------------------------------------------------
# Pareto cumulative revenue share
# --------------------------------------------------------------------------


@query(
    "q_win_pareto",
    oracle="""
        WITH cust AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                     AS revenue
          FROM orders GROUP BY o_custkey
        ), tot AS (
          SELECT CAST(SUM(CAST(revenue AS DECIMAL(30,10))) AS DOUBLE) AS t
          FROM cust
        ), ranked AS (
          SELECT o_custkey, revenue,
                 row_number() OVER (ORDER BY revenue DESC, o_custkey)
                     AS rk,
                 CAST(SUM(CAST(revenue AS DECIMAL(30,10)))
                      OVER (ORDER BY revenue DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     AS cum_rev
          FROM cust
        )
        SELECT rk AS rank,
               o_custkey,
               ROUND(revenue, 2) AS revenue,
               ROUND(cum_rev / tot.t, 6) AS cum_share
        FROM ranked, tot
        WHERE rk <= 100
        ORDER BY rank
    """,
)
def q_win_pareto(spark, d):
    """Pareto / cumulative-share analysis: top-100 customers by
    revenue with their running share of total — the 80/20
    concentration curve. The running sum is a DECIMAL window sum
    under a total order (revenue desc, custkey), so every prefix is
    exact and order-independent. Scale shape: the per-customer
    rollup is the combinable heavy step; the top-100 cut happens via
    orderBy+limit (TakeOrderedAndProject — per-partition top-100,
    merge at the driver, NO global sort and no full-relation window),
    and only the resulting 100-row relation enters the ordered
    window, so the unavoidable single-partition window runs on a
    bounded input regardless of corpus size. The top-100 prefix sums
    equal the global prefix sums because the limit takes exactly the
    order's head."""
    cust = (
        load(spark, d, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC))
            .cast("double")
            .alias("revenue")
        )
    )
    tot = cust.agg(
        F.sum(F.col("revenue").cast(DEC)).cast("double").alias("t")
    )
    top = cust.orderBy(F.col("revenue").desc(), F.col("o_custkey")).limit(100)
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey"))
    ranked = top.withColumn("rank", F.row_number().over(w)).withColumn(
        "cum_rev",
        F.sum(F.col("revenue").cast(DEC))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "o_custkey",
            F.round("revenue", 2).alias("revenue"),
            F.round(F.col("cum_rev") / F.col("t"), 6).alias("cum_share"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Semantic-tier dedup clusters (components over embedding-LSH pairs)
# --------------------------------------------------------------------------

def _semantic_components(spark, d):
    """(vec_id, cluster_id) over the planted SRP-LSH pair set,
    snapshotted like shingles.dup_components."""
    from ..operators.components import connected_components
    from ..operators.lsh import srp_near_dup_pairs
    from .pipeline import planted_embeddings

    def write(path):
        planted = planted_embeddings(spark, d)
        pairs = srp_near_dup_pairs(
            planted, "vec_id", "embedding", threshold=0.98
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        comp = connected_components(
            planted.select("vec_id"), pairs, "vec_id", "src", "dst"
        )
        write_parquet(comp, path)

    return spark.read.parquet(
        snapshot(spark, d, "semantic_components", write)
    )


@query(
    "q_dedup_semantic_cluster",
    oracle="""
        WITH RECURSIVE e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), planted AS (
          SELECT vec_id, v FROM e
          UNION ALL
          SELECT vec_id + 1000000 AS vec_id,
                 list_transform(v, x -> x * 2.0) AS v
          FROM e WHERE vec_id % 20 = 0
        ), pairs AS (
          SELECT a.vec_id AS src, b.vec_id AS dst
          FROM planted a, planted b
          WHERE a.vec_id < b.vec_id
            AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.98
        ), edges AS (
          SELECT src, dst FROM pairs
          UNION SELECT dst, src FROM pairs
          UNION SELECT vec_id, vec_id FROM planted
        ), reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
        ), comp AS (
          SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
        )
        SELECT cluster_id,
               MIN(vec_id) AS canonical_vec,
               COUNT(*) AS n_members
        FROM comp GROUP BY cluster_id
        HAVING COUNT(*) > 1
        ORDER BY cluster_id
    """,
)
def q_dedup_semantic_cluster(spark, d):
    """Semantic-tier dedup clusters: the SRP-LSH embedding pair set
    (the same planted relation q_dedup_embedding_lsh verifies) closed
    into components via the pointer-jumping operator, canonical = the
    minimum member id — ties the embedding dedup tier to the same
    transitive-closure machinery the MinHash tier uses
    (q_dedup_clusters), proving the components operator is edge-set
    agnostic. Declared against DuckDB's recursive-CTE closure over
    the exact O(n²) cosine pair set; the Spark side never goes
    all-pairs (banded SRP candidates + exact verify only on
    survivors). The (vec_id, cluster_id) assignment is a snapshot
    (sources/io.snapshot), like shingles.dup_components."""
    comp = _semantic_components(spark, d)
    return (
        comp.groupBy("cluster_id")
        .agg(
            F.min("vec_id").alias("canonical_vec"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Last-touch attribution (as-of composition + tolerance)
# --------------------------------------------------------------------------

ATTRIB_WINDOW_US = 24 * 3600 * 1_000_000  # 1-day lookback
N_CHANNELS = 5


@query(
    "q_behavior_attribution",
    oracle=f"""
        WITH p AS (
          SELECT event_id AS p_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'
        ), c AS (
          SELECT event_id AS c_id, user_id, ts,
                 CAST(json_extract(props, '$.k') AS BIGINT) % {N_CHANNELS}
                     AS channel
          FROM events WHERE event_type = 'click'
        ), j AS (
          SELECT p.p_id, p.value, p.ts AS p_ts, c.channel, c.ts AS c_ts,
                 row_number() OVER (PARTITION BY p.p_id
                                    ORDER BY c.ts DESC, c.c_id DESC) AS rn
          FROM p LEFT JOIN c
            ON p.user_id = c.user_id AND c.ts <= p.ts
        ), attributed AS (
          SELECT CASE WHEN c_ts IS NOT NULL
                        AND date_diff('microseconds', c_ts, p_ts)
                            <= {ATTRIB_WINDOW_US}
                      THEN channel ELSE -1 END AS channel,
                 value
          FROM j WHERE rn = 1
        )
        SELECT channel,
               COUNT(*) AS n_purchases,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2)
                   AS revenue
        FROM attributed
        GROUP BY channel
        ORDER BY channel
    """,
)
def q_behavior_attribution(spark, d):
    """Last-touch marketing attribution: each purchase credits the
    LATEST prior click within a 1-day window, rolled up to revenue
    per channel (clicks outside the window, or users with no prior
    click, fall into channel -1). Composition of the single-shuffle
    as-of operator (operators/asof.py — union + one user-partitioned
    window, never the quadratic emulation the oracle uses) with a
    post-hoc tolerance filter on the carried match timestamp and a
    combinable channel rollup. The channel is derived from the click
    props JSON (k mod {N_CHANNELS}) identically on both engines."""
    from ..operators.asof import asof_join

    ev = load(spark, d, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        (
            F.get_json_object("props", "$.k").cast("long")
            % F.lit(N_CHANNELS)
        ).alias("channel"),
        F.col("ts").alias("c_ts"),
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts="ts",
        value_cols=["channel", "c_ts"],
        tiebreak="event_id",
    )
    attributed = j.select(
        F.when(
            F.col("asof_c_ts").isNotNull()
            & (
                F.unix_micros("ts") - F.unix_micros("asof_c_ts")
                <= ATTRIB_WINDOW_US
            ),
            F.col("asof_channel"),
        )
        .otherwise(F.lit(-1))
        .alias("channel"),
        "value",
    )
    return (
        attributed.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast(DEC)).cast("double"), 2
            ).alias("revenue"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Partition-pruned source (hive-style partitioning + pruning)
# --------------------------------------------------------------------------

def partitioned_events(spark, d) -> str:
    """Path of the events snapshot in a hive-style event_type-partitioned
    parquet layout."""
    return snapshot(
        spark, d, "events_by_type",
        lambda p: write_parquet(
            load(spark, d, "events"), p, partition_by=["event_type"]
        ),
    )


@query(
    "q_source_partitioned_prune",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2)
                   AS sum_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY day
        ORDER BY day
    """,
)
def q_source_partitioned_prune(spark, d):
    """Partition-pruned scan over a hive-style layout: events are
    materialized once partitioned by event_type (the low-cardinality
    column the partitioning guide calls for), and the query's
    event_type predicate then prunes to ONE directory at PLAN time —
    the scan never opens the other partitions' files
    (tests/test_plans.py asserts the PartitionFilters entry). The
    oracle computes the same rollup from the unpartitioned source, so
    the hash ALSO proves the partitioned write/read round-trip is
    lossless, including the partition column that parquet stores in
    directory names rather than file data. The daily rollup output is
    calendar-bounded."""
    path = partitioned_events(spark, d)
    ev = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    # dir-partition values come back as strings; ts column round-trips
    # as written (µs) because it stays in the parquet data pages
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast(DEC)).cast("double"), 2
            ).alias("sum_value"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Calendar dimension generator
# --------------------------------------------------------------------------


@query(
    "q_ts_calendar_dim",
    oracle="""
        WITH bounds AS (
          SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS lo,
                 CAST(date_trunc('day', MAX(ts)) AS DATE) AS hi
          FROM events
        ), days AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
          FROM bounds
        )
        SELECT CAST(d AS DATE) AS day,
               CAST(isodow(d) AS BIGINT) AS iso_dow,
               CAST(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS BIGINT)
                   AS is_weekend,
               CAST(EXTRACT(month FROM d) AS BIGINT) AS month,
               CAST(EXTRACT(quarter FROM d) AS BIGINT) AS quarter,
               CAST(EXTRACT(doy FROM d) AS BIGINT) AS day_of_year
        FROM days
        ORDER BY day
    """,
)
def q_ts_calendar_dim(spark, d):
    """Calendar-dimension generation spanning the event table's day
    range — the date dim every star schema joins (the densify step
    q_ts_gapfill embeds, exposed as its own generator). One tiny
    bounds aggregate, then sequence + explode builds the rows with
    ZERO input-table scans beyond the bounds — at any corpus size
    this emits |days| rows. Engine traps normalized explicitly:
    ISO day-of-week via dayofweek's Sunday-based value remapped to
    Monday=1 (Spark has no isodow), quarter/doy via extract on both
    sides."""
    ev = load(spark, d, "events")
    bounds = ev.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("lo"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("hi"),
    )
    days = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("day")
    )
    iso_dow = ((F.dayofweek("day") + 5) % 7) + 1  # Sun=1.. -> Mon=1..
    return days.select(
        "day",
        iso_dow.cast("long").alias("iso_dow"),
        F.when(iso_dow >= 6, 1).otherwise(0).cast("long").alias("is_weekend"),
        F.month("day").cast("long").alias("month"),
        F.quarter("day").cast("long").alias("quarter"),
        F.dayofyear("day").cast("long").alias("day_of_year"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Matryoshka prefix-dimension retrieval evaluation
# --------------------------------------------------------------------------

PREFIX_DIMS = 16
PREFIX_TOPK = 10
PREFIX_PROBES = 20  # fixed probe set (vec_id < 20): bounded at ANY scale


@query(
    "q_emb_prefix_eval",
    oracle=f"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), q AS (
          SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {PREFIX_PROBES}
        ), scored AS (
          SELECT q.qid, e.vec_id AS cid,
                 ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cos_full,
                 ROUND(list_cosine_similarity(
                     e.v[1:{PREFIX_DIMS}], q.qv[1:{PREFIX_DIMS}]), 6)
                     AS cos_pre
          FROM e JOIN q ON e.vec_id <> q.qid
        ), ranked AS (
          SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos_full DESC, cid) AS rk_full,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos_pre DESC, cid) AS rk_pre
          FROM scored
        )
        SELECT qid,
               COUNT(CASE WHEN rk_full <= {PREFIX_TOPK}
                           AND rk_pre <= {PREFIX_TOPK} THEN 1 END)
                   AS overlap10,
               CAST(MAX(CASE WHEN rk_full = 1 THEN cid END) AS BIGINT)
                   AS top1_full,
               CAST(MAX(CASE WHEN rk_pre = 1 THEN cid END) AS BIGINT)
                   AS top1_pre
        FROM ranked
        GROUP BY qid
        ORDER BY qid
    """,
)
def q_emb_prefix_eval(spark, d):
    """Matryoshka-style prefix-dimension retrieval evaluation: for a
    FIXED 20-vector probe set, compare full-dimension cosine top-10
    against top-10 using only the first {P} dimensions — the overlap
    answers 'can the cheap prefix index serve first-stage retrieval'.
    The probe set is a constant-size broadcast (bounded at any corpus
    scale, unlike a modulus slice); per pair the work is the two O(d)
    dot folds ONLY — the corpus row's double cast, prefix slice, and
    both norms are hoisted into a projection BELOW the cross join, so
    the interpreted HOF folds that depend only on the corpus row run
    once per row, not once per (row, probe) (the no-CSE trap — a
    post-join formulation measured 3× slower at 20 probes). Both
    row_number rankings share the qid partitioning so one exchange
    serves them. Cosines round to 6 BEFORE ranking with cid
    tie-breaks — the rank, and therefore the overlap count, is
    engine-identical."""
    from ..functions.vectors import as_double_array, cosine, sq_norm, unit

    emb = load(spark, d, "embeddings")
    probes = F.broadcast(
        emb.filter(F.col("vec_id") < PREFIX_PROBES).select(
            F.col("vec_id").alias("qid"),
            unit(F.col("embedding")).alias("qunit_full"),
            unit(F.slice(as_double_array(F.col("embedding")), 1, PREFIX_DIMS)).alias(
                "qunit_pre"
            ),
        )
    )
    corpus = emb.select(
        F.col("vec_id").alias("cid"),
        as_double_array(F.col("embedding")).alias("v"),
        F.slice(as_double_array(F.col("embedding")), 1, PREFIX_DIMS).alias(
            "v_pre"
        ),
        F.sqrt(sq_norm(F.col("embedding"))).alias("n_full"),
        F.sqrt(sq_norm(F.slice(F.col("embedding"), 1, PREFIX_DIMS))).alias(
            "n_pre"
        ),
    )
    scored = (
        corpus.crossJoin(probes)
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            F.round(
                cosine(F.col("v"), F.col("qunit_full")) / F.col("n_full"), 6
            ).alias("cos_full"),
            F.round(
                cosine(F.col("v_pre"), F.col("qunit_pre")) / F.col("n_pre"),
                6,
            ).alias("cos_pre"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.col("cos_full").desc(), "cid")
    wp = Window.partitionBy("qid").orderBy(F.col("cos_pre").desc(), "cid")
    ranked = scored.withColumn("rk_full", F.row_number().over(wf)).withColumn(
        "rk_pre", F.row_number().over(wp)
    )
    return (
        ranked.groupBy("qid")
        .agg(
            F.count(
                F.when(
                    (F.col("rk_full") <= PREFIX_TOPK)
                    & (F.col("rk_pre") <= PREFIX_TOPK),
                    1,
                )
            ).alias("overlap10"),
            F.max(F.when(F.col("rk_full") == 1, F.col("cid"))).alias(
                "top1_full"
            ),
            F.max(F.when(F.col("rk_pre") == 1, F.col("cid"))).alias(
                "top1_pre"
            ),
        )
        .orderBy("qid")
    )
