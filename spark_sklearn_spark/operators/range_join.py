"""Interval / range join via bucketing (SURVEY.md §2B q_join_range_ts).

Spark plans a raw ``l.ts BETWEEN r.lo AND r.hi`` join as a
broadcast nested-loop join — O(|L|·|R|), unusable at 100 TB. The scale
path: quantize the range key into fixed-width buckets, explode each
right-side interval into the buckets it covers, equi-join on the
bucket (hash join, shuffles once, AQE-skew-handled), then apply the
exact range predicate as a residual filter. Results are identical to
the naive plan; only the physical strategy changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_join(
    left: DataFrame,
    left_ts: str,
    right: DataFrame,
    right_lo: str,
    right_hi: str,
    bucket_seconds: int,
    how: str = "inner",
) -> DataFrame:
    """Join left rows whose ``left_ts`` falls in [right_lo, right_hi].

    ``bucket_seconds`` should be ≳ the typical interval width so each
    interval explodes into O(1) buckets.

    Inner only: the residual BETWEEN predicate runs AFTER the bucket
    join, so an outer ``how`` would null-extend unmatched rows and the
    filter would then silently drop them — outer semantics corrupted
    into inner with no error (the same guard posture as
    salting.py's salted_join). Implementing a true outer needs the
    residual inside the join condition; raise until someone does.
    """
    if how != "inner":
        raise NotImplementedError(
            "interval_join supports how='inner' only: the residual "
            "range predicate is applied post-join and would silently "
            f"drop outer-extended rows (got how={how!r})"
        )
    b = F.lit(bucket_seconds)
    l_b = left.withColumn(
        "__bucket", F.floor(F.date_trunc("second", F.col(left_ts)).cast("long") / b)
    )
    lo_b = F.floor(F.date_trunc("second", F.col(right_lo)).cast("long") / b)
    hi_b = F.floor(F.date_trunc("second", F.col(right_hi)).cast("long") / b)
    r_b = right.withColumn("__bucket", F.explode(F.sequence(lo_b, hi_b)))

    joined = l_b.join(r_b, on="__bucket", how=how).filter(
        F.col(left_ts).between(F.col(right_lo), F.col(right_hi))
    )
    return joined.drop("__bucket")
