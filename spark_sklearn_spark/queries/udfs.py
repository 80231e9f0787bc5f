"""UDF / UDAF / UDTF surface (SURVEY.md §2B) — the Arrow crossing.

Parity: this family exercises the one genuinely novel execution path
the reference lived on — Python code over grouped Spark data
(``python/spark_sklearn/group_apply.py#gapply``, SURVEY §2A A4). All
Python here is vectorized (Arrow-batched pandas UDFs / applyInPandas);
never row-at-a-time ``F.udf``, which would be 10-100× slower on the
same plan.

Each query's semantics are deliberately SQL-expressible so the DuckDB
oracle hash-checks the Python path end-to-end: if the Arrow crossing
corrupted dtypes, dropped rows, or reordered groups, the hash catches
it.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..operators.gapply import gapply
from ..registry import query
from ..sources.io import load


@query(
    "q_udf_scalar",
    oracle="""
        SELECT doc_id,
               trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm_text,
               CAST(length(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
                    AS BIGINT) AS norm_len
        FROM documents
    """,
)
def q_udf_scalar(spark, d):
    """Scalar pandas UDF: text normalization (lowercase, collapse
    whitespace, trim) as one Arrow-batched vectorized call over the
    string column. The pandas `.str` pipeline operates on the whole
    batch — no per-row Python dispatch."""

    @pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        # strip(' ') — SPACES only: bare .str.strip() removes all
        # whitespace (\t, \n, unicode) while the oracle's trim()
        # strips spaces, so text ending in a newline would diverge
        return s.str.lower().str.replace(r" +", " ", regex=True).str.strip(" ")

    docs = load(spark, d, "documents")
    # invoke the UDF ONCE and derive the length from its output column
    # — two identical call-sites are two ArrowEvalPython instances,
    # i.e. the normalization would run twice per batch
    return docs.select("doc_id", norm("text").alias("norm_text")).withColumn(
        "norm_len", F.length("norm_text").cast("long")
    )


@query(
    "q_udaf_grouped",
    oracle="""
        WITH ranked AS (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value, event_id) AS rk,
                 count(*) OVER (PARTITION BY user_id) AS n
          FROM events
        )
        SELECT user_id,
               ROUND(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2)
                   AS trimmed_sum,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM ranked
        WHERE rk > CAST(floor(n * 0.1) AS BIGINT)
          AND rk <= n - CAST(floor(n * 0.1) AS BIGINT)
        GROUP BY user_id
    """,
)
def q_udaf_grouped(spark, d):
    """Grouped-aggregate pandas UDF: 10%-trimmed sum + kept-count of
    value per user (one Arrow batch per group, numpy sort inside).
    Sum rather than mean: the fixture values are exact multiples of
    0.01, so the rounded-to-2 trimmed sum is boundary-safe, while a
    mean lands exactly on 5e-7 half-way points and the engines'
    rounding modes disagree there. The oracle reproduces the trim
    relationally (row_number cut at floor(n*0.1) per side — boundary
    ties are value-equal, so either engine's choice of tied row
    yields the same sum)."""

    @pandas_udf("double")
    def trimmed_sum(v: pd.Series) -> float:
        # mirror the oracle's decimal policy exactly: quantize each
        # double to DECIMAL(30,10) half-away, sum exactly, round
        # half-away to 2 (a raw numpy double sum + Python round() is
        # banker's half-even over an order-dependent float sum — safe
        # on this fixture only because values are exact 0.01 multiples)
        import math
        from decimal import ROUND_HALF_UP, Decimal

        q10 = Decimal(1).scaleb(-10)
        s = v.sort_values().to_numpy()
        k = int(len(s) * 0.1)
        kept = s[k : len(s) - k]
        total = sum(Decimal(float(x)).quantize(q10, ROUND_HALF_UP) for x in kept)
        t = float(total)
        return math.floor(t * 100 + 0.5) / 100 if t >= 0 else -math.floor(-t * 100 + 0.5) / 100

    @pandas_udf("long")
    def trimmed_n(v: pd.Series) -> int:
        return int(len(v) - 2 * int(len(v) * 0.1))

    ev = load(spark, d, "events")
    return ev.groupBy("user_id").agg(
        trimmed_sum("value").alias("trimmed_sum"),
        trimmed_n("value").alias("n_kept"),
    )


@query(
    "q_udtf_split",
    oracle="""
        SELECT doc_id,
               CAST(pos - 1 AS INTEGER) AS pos,
               word
        FROM (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) AS pos,
                   unnest(string_split(text, ' ')) AS word
            FROM documents
        )
        WHERE doc_id % 50 = 0
    """,
)
def q_udtf_split(spark, d):
    """Table function: explode documents into (position, word) rows.
    Uses the built-in posexplode(split(...)) — a Generate node that
    stays JVM-side — rather than a Python UDTF: same semantics, no
    interpreter crossing (SURVEY §2B prefers the builtin for oracle
    parity and throughput)."""
    docs = load(spark, d, "documents").filter(F.col("doc_id") % 50 == 0)
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )


@query(
    "q_gapply_norm",
    oracle="""
        SELECT user_id, event_id,
               ROUND((value - avg(value) OVER (PARTITION BY user_id))
                     / stddev_samp(value) OVER (PARTITION BY user_id), 6)
                   AS zscore
        FROM events
    """,
)
def q_gapply_norm(spark, d):
    """A4 port: z-score normalize value per user via gapply
    (applyInPandas). The reference's flagship grouped-apply pattern —
    func(key, pdf) -> pdf with caller-supplied schema — checked
    against the window-function formulation in SQL (pandas ddof=1
    std == stddev_samp)."""

    def zscore(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        z = ((v - v.mean()) / v.std(ddof=1)).round(6)
        # degenerate groups (single row / zero variance) produce NaN in
        # pandas but NULL in SQL stddev_samp — emit NULL to match the
        # oracle on any fixture, not just ones without such groups
        return pd.DataFrame(
            {
                "user_id": key[0],
                "event_id": pdf["event_id"],
                "zscore": z.astype(object).where(z.notna(), None),
            }
        )

    ev = load(spark, d, "events")
    return gapply(
        ev,
        "user_id",
        zscore,
        "user_id bigint, event_id bigint, zscore double",
        "event_id",
        "value",
    )


@query(
    "q_udf_iter",
    oracle="""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_live,
               md5(text) AS text_md5
        FROM documents
        ORDER BY doc_id
    """,
)
def q_udf_iter(spark, d):
    """Iterator-of-series pandas UDF — the variant for expensive
    one-time initialization (model load, tokenizer build): the
    closure's setup code runs ONCE per Python worker, then streams
    every Arrow batch through it, instead of re-initializing per
    batch like a plain scalar UDF would. Here the 'model' is a
    hashlib constructor; in production it is the N-second tokenizer
    or ONNX session load whose per-batch cost would otherwise
    dominate. Output is deterministic (md5), so the query stays
    declared."""
    @pandas_udf("string")
    def text_md5(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib  # one-time init per worker happens HERE

        digest = hashlib.md5  # stands in for a model/tokenizer load
        for s in batches:
            # None propagates as NULL (DuckDB md5(NULL) is NULL);
            # an unguarded t.encode() would crash the worker instead
            yield s.map(
                lambda t: None if t is None else digest(t.encode()).hexdigest()
            )

    docs = load(spark, d, "documents")
    return (
        docs.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars_live"),
            text_md5("text").alias("text_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_udtf_python",
    oracle="""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE doc_id % 50 = 0
        ), idx AS (
          SELECT doc_id, w,
                 unnest(generate_series(
                   1, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS i
          FROM toks
        )
        SELECT doc_id,
               CAST(i - 1 AS BIGINT) AS chunk_idx,
               array_to_string(w[(i - 1) * 10 + 1 : i * 10], ' ') AS chunk,
               CAST(least(10, len(w) - (i - 1) * 10) AS BIGINT) AS n_tokens
        FROM idx
        ORDER BY doc_id, chunk_idx
    """,
)
def q_udtf_python(spark, d):
    """True Python UDTF (PySpark 4 @udtf API): one input row fans out
    to N output rows from arbitrary Python — here a 10-token
    chunker over a 2% document slice. The UDTF is the API-coverage
    twin of q_udtf_split (JVM posexplode): row-at-a-time Python IS
    the slow path, which is why (a) the slice is pushed BELOW the
    UDTF call so only 1/50 of documents cross into Python, and (b)
    the same chunking at corpus scale ships as the Generate-based
    q_text_chunk. Deterministic output → declared."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, chunk string, n_tokens bigint")
    class Chunker:
        def eval(self, text: str):
            if text is None:
                return  # NULL text -> zero rows (unnest(NULL) parity)
            toks = text.split(" ")
            for i in range(0, len(toks), 10):
                piece = toks[i : i + 10]
                yield (i // 10, " ".join(piece), len(piece))

    docs = load(spark, d, "documents").filter(F.col("doc_id") % 50 == 0)
    docs.createOrReplaceTempView("udtf_docs_in")
    spark.udtf.register("chunk_udtf", Chunker)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_tokens
        FROM udtf_docs_in d, LATERAL chunk_udtf(d.text) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


@query(
    "q_udtf_arrow",
    oracle="""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE doc_id % 50 = 0
        )
        SELECT doc_id,
               CAST(length(w) AS BIGINT) AS wlen,
               COUNT(*) AS n
        FROM words
        GROUP BY doc_id, wlen
        ORDER BY doc_id, wlen
    """,
)
def q_udtf_arrow(spark, d):
    """Arrow-optimized Python UDTF (PySpark 4 @udtf(useArrow=True)):
    per-document word-length histogram — one input row fans out to
    one row per distinct length. The Arrow path batches rows across
    the Python boundary instead of pickling one at a time (the same
    10-100x boundary win as pandas_udf vs F.udf, applied to UDTFs);
    semantics are identical to the row-mode API, which is exactly
    what the shared DuckDB oracle pins. Slice pushed below the UDTF
    so only 1/50 of documents cross into Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="wlen bigint, n bigint", useArrow=True)
    class WordLenHist:
        def eval(self, text: str):
            if text is None:
                return
            counts: dict[int, int] = {}
            for w in text.split(" "):
                counts[len(w)] = counts.get(len(w), 0) + 1
            for wlen in sorted(counts):
                yield (wlen, counts[wlen])

    docs = load(spark, d, "documents").filter(F.col("doc_id") % 50 == 0)
    docs.createOrReplaceTempView("udtf_arrow_docs_in")
    spark.udtf.register("wlen_hist_udtf", WordLenHist)
    return spark.sql(
        """
        SELECT d.doc_id, h.wlen, h.n
        FROM udtf_arrow_docs_in d, LATERAL wlen_hist_udtf(d.text) h
        ORDER BY d.doc_id, h.wlen
        """
    )
