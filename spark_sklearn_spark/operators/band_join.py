"""Banded inequality (theta) join (SURVEY.md §4.3; VERDICT r1 item 9).

Spark plans a bare ``a.value < b.value`` join as a
broadcast nested-loop join — O(|L|·|R|) work and a broadcast of one whole
side, which stops scaling the moment both filtered inputs grow. The
band join turns the inequality into an equi-join: discretize the value
domain into fixed-width bands, replicate each left row into every band
that can contain a larger right value, hash-join on the band id, and
apply the true predicate as a residual filter. Same technique as
``range_join.py`` uses for time intervals, applied to an open-ended
value comparison.

Cost model: one shuffled hash join on ~|L|·(bands spanned) + |R| rows
instead of an |L|·|R| nested loop; replication is bounded by the band
count, so choosing width ≈ domain/√(replication budget) keeps the
blow-up constant while every task stays a hash probe. Skew note: left
rows at the low end of the domain replicate most; if the domain is
long-tailed, band by quantile instead of fixed width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def band_join_less_than(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    lo: float,
    hi: float,
    width: float,
) -> DataFrame:
    """Equi-join plan for ``left.left_val < right.right_val``.

    [lo, hi) describes the *expected* value domain and only tunes
    efficiency: bands are clamped into range, so values outside the
    domain land in the edge bands and remain correct (the residual
    filter decides), they just band less selectively. Returns the
    joined DataFrame (all columns of both sides); caller applies extra
    predicates.
    """
    if width <= 0:
        raise ValueError(f"band width must be positive, got {width}")
    if hi <= lo:
        raise ValueError(f"empty band domain: lo={lo} >= hi={hi}")
    n_bands = int((hi - lo) // width) + 1
    band_of = lambda c: F.greatest(  # noqa: E731
        F.lit(0),
        F.least(F.lit(n_bands - 1), ((F.col(c) - lo) / width).cast("int")),
    )

    l_banded = left.withColumn(
        "__band",
        F.explode(F.sequence(band_of(left_val), F.lit(n_bands - 1))),
    )
    r_banded = right.withColumn("__band", band_of(right_val))
    return (
        l_banded.join(r_banded, "__band")
        .filter(F.col(left_val) < F.col(right_val))
        .drop("__band")
    )
