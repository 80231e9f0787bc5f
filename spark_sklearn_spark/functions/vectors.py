"""Vector column expressions over array<float|double> embeddings.

JVM-side folds (zip_with/aggregate) for the single-vector math; the
block-matmul operator (operators/similarity.py) takes over when the
workload is a matrix product. Casts to double FIRST — float32
arithmetic would diverge from any double-precision oracle
(FIXTURES.md determinism note).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def as_double_array(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def sq_norm(vec: Column | str) -> Column:
    v = as_double_array(vec)
    return F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)


def sq_dist(a: str, b: str) -> Column:
    """Exact squared Euclidean distance of two integer (bigint) arrays —
    a sequential BIGINT fold, the Spark side of the oracles'
    ``list_sum(list_transform(...))`` over floor(x*1e6) components."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, x) -> acc + x)"
    )


def unit(vec: Column | str) -> Column:
    """L2-normalized copy of the array.

    WARNING — O(d²) in interpreted HOF evaluation: the norm fold is
    embedded in the per-element lambda and Spark's higher-order
    functions get no common-subexpression elimination, so every
    element re-evaluates the full fold. Fine for a handful of rows
    (e.g. one broadcast query vector); for per-row use on large
    tables, normalize in numpy inside an Arrow stage or divide one
    fold by another (see operators/similarity.py cosine_topk)."""
    v = as_double_array(vec)
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(v, lambda x: x / n)


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two already-unit-normalized arrays — a
    sequential fold in array order, matching a sequential SQL oracle
    bit-for-bit up to last-ulp (round before ordering on it)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
