"""The 5-char rolling hash shared by the per-document fingerprint
keys (q_text_fingerprint_rolling, q_text_winnow, q_dedup_cdc): the
DuckDB per-position form ``poly_sql`` (and ``ROLL_HASHES_CTES``, the
(doc_id, i, h) relation every window start of every document gives)
and the Spark in-row array form ``rolling_hash_arrays``, which give
the same values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# 5-char rolling window, base-256 polynomial over codepoints: fits
# int64 exactly (max codepoint 0x10FFFF * 256^4 < 2^53 < 2^63), so
# both engines compute identical hashes with plain integer math.
ROLL_K = 5


def poly_sql(col: str, i: str) -> str:
    return " + ".join(
        f"ascii(substr({col}, {i} + {j}, 1)) * {256 ** (ROLL_K - 1 - j)}"
        for j in range(ROLL_K)
    )


ROLL_HASHES_CTES = f"""
        pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, len(text) - {ROLL_K - 1})) AS i
            FROM documents
            WHERE len(text) >= {ROLL_K}
        ),
        hashes AS (
            SELECT doc_id, i, ({poly_sql("text", "i")}) AS h FROM pos
        )
"""


def rolling_hash_arrays(docs):
    """(doc_id, hs) where hs[i] is the base-256 polynomial hash of the
    5-gram starting at codepoint i (1-based) — same values as
    poly_sql, different evaluation shape. substr(text, i, 1) is an
    O(i) codepoint seek on Spark's UTF8String, so hashing via
    per-position substr is O(len^2) per document (measured 8.5 s at
    sf0.1); splitting to a codes array once is O(len) and each gram
    is then five O(1) element_at lookups (1.8 s). codes/hs are
    referenced >=5x by their consumers, so CollapseProject keeps them
    materialized per row instead of inlining the transform into the
    consuming lambda (which would be O(len) per element again)."""
    codes = docs.filter(F.length("text") >= ROLL_K).select(
        "doc_id",
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("codes"),
    )
    gram = " + ".join(
        f"element_at(codes, i + {j}) * {256 ** (ROLL_K - 1 - j)}L"
        for j in range(ROLL_K)
    )
    return codes.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(codes) - {ROLL_K - 1}), i -> {gram})"
        ).alias("hs"),
    )
