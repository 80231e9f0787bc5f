"""Round-9 batch H: blocked nonparametric testing, experiment uplift
readout, and visual series downsampling.

New keys (SURVEY.md §2B):
- q_ml_friedman     — tie-corrected Friedman test: do the event types
  differ consistently across day blocks? Doubled midranks keep every
  term an exact integer; chi2 closes as one integer ppm division.
- q_behavior_uplift — two-proportion experiment readout on hash-split
  arms: conversion lift in exact ppm + pooled z in micro.
- q_ts_lttb         — largest-deviation-per-bucket downsampling (the
  LTTB idea with neighbor-bucket means instead of the sequential
  anchor): one representative day per 3-day bucket, exact integer
  scores.

All declared; r8 output policy.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import h56, sql_h56
from .behavior import DAY_IDX_SQL, TYPE_DAY_COUNTS_CTE, day_idx

# --------------------------------------------------------------------------
# Friedman test across event types, blocked by day
# --------------------------------------------------------------------------
#
# Blocks = days, treatments = the k event types, value = daily event
# count (zero-filled grid so every block ranks all k). Within-block
# midranks carry ties exactly via DOUBLED ranks: r2 = 2·minrank +
# ties − 1. With S_j = Σ_i r2_ij and A2 = Σ r2², the tie-corrected
# statistic is chi2 = (k−1)·Σ_j (S_j − n(k+1))² / (A2 − n·k·(k+1)²)
# — every term an exact integer on both engines, one closing ppm
# division. (Derivation: Conover's tie-corrected Friedman with all
# ranks doubled; numerator and denominator each pick up a factor 4.)

_FRIED_ORACLE = f"""
    WITH {TYPE_DAY_COUNTS_CTE},
    grid AS (
      SELECT d.day_idx, t.event_type, COALESCE(x.n, 0) AS n
      FROM (SELECT DISTINCT day_idx FROM daily) d
      CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
      LEFT JOIN daily x ON x.day_idx = d.day_idx
                       AND x.event_type = t.event_type
    ),
    ranked AS (
      SELECT day_idx, event_type, n,
             RANK() OVER (PARTITION BY day_idx ORDER BY n) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY day_idx, n) AS BIGINT) AS eq
      FROM grid
    ),
    r2s AS (
      SELECT day_idx, event_type, 2 * rk + eq - 1 AS r2 FROM ranked
    ),
    dims AS (
      SELECT CAST(COUNT(DISTINCT day_idx) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k,
             CAST(SUM(r2 * r2) AS BIGINT) AS a2
      FROM r2s
    ),
    per_t AS (
      SELECT event_type, CAST(SUM(r2) AS BIGINT) AS s2
      FROM r2s GROUP BY event_type
    ),
    num AS (
      SELECT CAST(SUM((p.s2 - m.n * (m.k + 1))
                      * (p.s2 - m.n * (m.k + 1))) AS BIGINT) AS sq
      FROM per_t p CROSS JOIN dims m
    )
    SELECT p.event_type, p.s2,
           CAST(p.s2 * 500 // m.n AS BIGINT) AS mean_rank_milli,
           m.n AS n_blocks, m.k,
           CAST((m.k - 1) * q.sq * 1000000
                // (m.a2 - m.n * m.k * (m.k + 1) * (m.k + 1))
                AS BIGINT) AS chi2_micro
    FROM per_t p CROSS JOIN dims m CROSS JOIN num q
    ORDER BY event_type
"""


@query("q_ml_friedman", oracle=_FRIED_ORACLE)
def q_ml_friedman(spark, d):
    """Tie-corrected Friedman test (module comment). Plan: corpus
    collapses to the (day, type) grid once; ranks are per-day windows
    over k=5 rows; everything downstream is k- or 1-row-sized."""
    # Not day_counts: its column names drop the `event_type AS t`
    # projections and so change this plan's operator counts.
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        day_idx().alias("d"), F.col("event_type").alias("t")
    ).agg(F.count(F.lit(1)).alias("c"))
    days = daily.select("d").distinct()
    types = daily.select("t").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["d", "t"], "left")
        .select("d", "t", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w_rank = Window.partitionBy("d").orderBy("c")
    w_eq = Window.partitionBy("d", "c")
    r2s = grid.select(
        "d",
        "t",
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_eq)
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    dims = r2s.agg(
        F.count_distinct("d").alias("n"),
        F.count_distinct("t").alias("k"),
        F.sum(F.col("r2") * F.col("r2")).alias("a2"),
    )
    per_t = r2s.groupBy("t").agg(F.sum("r2").alias("s2"))
    num = (
        per_t.crossJoin(F.broadcast(dims))
        .selectExpr("(s2 - n * (k + 1)) * (s2 - n * (k + 1)) AS sq1")
        .agg(F.sum("sq1").alias("sq"))
    )
    return (
        per_t.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(num))
        .selectExpr(
            "t AS event_type",
            "s2",
            "s2 * 500L div n AS mean_rank_milli",
            "n AS n_blocks",
            "k",
            "(k - 1) * sq * 1000000L"
            " div (a2 - n * k * (k + 1) * (k + 1)) AS chi2_micro",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Two-proportion uplift readout on hash-split arms
# --------------------------------------------------------------------------
#
# The experiment scorecard over the same deterministic md5-parity
# assignment q_ml_logrank uses: per arm, conversion = "first purchase
# within 24 h of the user's first event" (the fixture's 30-day event
# streams make bare "ever purchased" saturate at 100%, degenerating
# the pooled variance); rates in exact ppm, lift, and the pooled
# two-proportion z in micro, zero-guarded for the all-or-none case.

_UPLIFT_ORACLE = f"""
    WITH pu AS (
      SELECT user_id,
             {sql_h56("CAST(user_id AS VARCHAR)")} % 2 AS g,
             CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS e0,
             CAST(epoch(date_trunc('second', MIN(CASE
               WHEN event_type = 'purchase' THEN ts END))) AS BIGINT)
                 AS ec
      FROM events GROUP BY user_id
    ),
    per_user AS (
      SELECT g,
             CASE WHEN ec IS NOT NULL AND ec - e0 <= 86400
                  THEN 1 ELSE 0 END AS conv
      FROM pu
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n0,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n1,
             CAST(SUM(CASE WHEN g = 0 THEN conv ELSE 0 END) AS BIGINT)
                 AS x0,
             CAST(SUM(CASE WHEN g = 1 THEN conv ELSE 0 END) AS BIGINT)
                 AS x1
      FROM per_user
    )
    SELECT n0, n1, x0, x1,
           CAST(x0 * 1000000 // n0 AS BIGINT) AS rate0_ppm,
           CAST(x1 * 1000000 // n1 AS BIGINT) AS rate1_ppm,
           CAST(x1 * 1000000 // n1 - x0 * 1000000 // n0 AS BIGINT)
               AS lift_ppm,
           CASE WHEN x0 + x1 = 0 OR x0 + x1 = n0 + n1 THEN 0
                ELSE CAST(floor(
             (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
             / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1))
             * 1000000.0) AS BIGINT) END AS z_micro
    FROM arms
"""


@query("q_behavior_uplift", oracle=_UPLIFT_ORACLE)
def q_behavior_uplift(spark, d):
    """Two-proportion uplift readout (module comment): one per-user
    collapse, one 1-row arm agg, identical double z chain."""
    ev = load(spark, d, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("second", "ts").cast("long")).alias("e0"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.date_trunc("second", "ts").cast("long"),
            )
        ).alias("ec"),
    ).withColumn("g", h56("cast(user_id as string)") % 2)
    per_user = pu.select(
        "g",
        F.when(
            F.col("ec").isNotNull()
            & (F.col("ec") - F.col("e0") <= 86400),
            1,
        )
        .otherwise(0)
        .alias("conv"),
    )
    arms = per_user.agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("conv")).otherwise(0)).alias(
            "x0"
        ),
        F.sum(F.when(F.col("g") == 1, F.col("conv")).otherwise(0)).alias(
            "x1"
        ),
    )
    return arms.selectExpr(
        "n0",
        "n1",
        "x0",
        "x1",
        "x0 * 1000000L div n0 AS rate0_ppm",
        "x1 * 1000000L div n1 AS rate1_ppm",
        "x1 * 1000000L div n1 - x0 * 1000000L div n0 AS lift_ppm",
        "case when x0 + x1 = 0 or x0 + x1 = n0 + n1 then 0L"
        " else cast(floor("
        " (cast(x1 as double) / n1 - cast(x0 as double) / n0)"
        " / sqrt((cast(x0 + x1 as double) / (n0 + n1))"
        "        * (1.0d - cast(x0 + x1 as double) / (n0 + n1))"
        "        * (1.0d / n0 + 1.0d / n1))"
        " * 1000000.0d) as bigint) end AS z_micro",
    )


# --------------------------------------------------------------------------
# Largest-deviation-per-bucket series downsampling
# --------------------------------------------------------------------------
#
# The dashboard-scale downsampler: keep ONE representative day per
# 30-day bucket — the day whose revenue deviates most from the mean
# of the two neighbor buckets (the LTTB triangle idea with bucket
# means as anchors, which drops LTTB's sequential dependency and
# keeps the pick exactly parallel). Score stays an exact integer by
# clearing denominators: score2 = |2·y·np·nn − (sp·nn + sn·np)|.
# Interior buckets only (both neighbors must exist); ties to the
# earlier day. Bucket = 3 days: the fixture's event stream spans ~30
# days, so 30-day buckets would leave no interior bucket at all.

_LTTB_ORACLE = f"""
    WITH daily AS (
      SELECT {DAY_IDX_SQL} AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM events GROUP BY d
    ),
    buck AS (
      SELECT d, y, d // 3 AS b FROM daily
    ),
    bstats AS (
      SELECT b, CAST(SUM(y) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM buck GROUP BY b
    ),
    scored AS (
      SELECT x.b, x.d, x.y,
             abs(2 * x.y * p.n * nx.n - (p.s * nx.n + nx.s * p.n))
                 AS score2,
             ROW_NUMBER() OVER (
               PARTITION BY x.b
               ORDER BY abs(2 * x.y * p.n * nx.n
                            - (p.s * nx.n + nx.s * p.n)) DESC, x.d
             ) AS rk
      FROM buck x
      JOIN bstats p ON p.b = x.b - 1
      JOIN bstats nx ON nx.b = x.b + 1
    )
    SELECT b AS bucket, d AS day_num, y AS rev_cents,
           CAST(score2 AS BIGINT) AS score2
    FROM scored WHERE rk = 1
    ORDER BY bucket
"""


@query("q_ts_lttb", oracle=_LTTB_ORACLE)
def q_ts_lttb(spark, d):
    """Largest-deviation-per-bucket downsampling (module comment).
    Plan: corpus -> calendar-bounded daily grain, bucket stats join
    (bucket-count-sized), one bucket-partitioned pick window."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(day_idx().alias("d")).agg(
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias(
            "y"
        )
    )
    buck = daily.selectExpr("d", "y", "d div 3 AS b")
    bstats = buck.groupBy("b").agg(
        F.sum("y").alias("s"), F.count(F.lit(1)).alias("n")
    )
    p = bstats.selectExpr("b + 1 AS b", "s AS sp", "n AS np")
    nx = bstats.selectExpr("b - 1 AS b", "s AS sn", "n AS nn")
    scored = (
        buck.join(p, "b")
        .join(nx, "b")
        .withColumn(
            "score2",
            F.abs(
                2 * F.col("y") * F.col("np") * F.col("nn")
                - (F.col("sp") * F.col("nn") + F.col("sn") * F.col("np"))
            ),
        )
    )
    w = Window.partitionBy("b").orderBy(F.desc("score2"), "d")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .selectExpr(
            "b AS bucket", "d AS day_num", "y AS rev_cents", "score2"
        )
        .orderBy("bucket")
    )
