"""Round-9 batch L: the third rank test, corpus-shape power-law fit,
and a fuzzy-duplicate payment audit.

New keys (SURVEY.md §2B):
- q_ml_kruskal       — tie-corrected Kruskal-Wallis H across weekdays
  on the daily event-count series (doubled midranks, exact integers,
  one closing double chain) — completes the Mann-Whitney/Friedman/KW
  rank-test family
- q_behavior_powerlaw — discrete power-law tail fit of per-user
  activity via the Hill/MLE estimator alpha = 1 + n/Σ ln(x/xmin)
  (decimal-quantized log sums)
- q_dq_double_charge — duplicate-payment audit: same customer, same
  cents, different order, within 3 days — the classic fuzzy-dup
  rule as a selective equi-join + residual

All declared; r8 output policy.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load
from .behavior import DAY_COUNTS_CTE, day_counts

# --------------------------------------------------------------------------
# Kruskal-Wallis across weekdays
# --------------------------------------------------------------------------
#
# Does the daily event count differ by weekday? Groups = epoch-day %
# 7, values = daily counts, ranks over the WHOLE calendar-bounded
# daily relation (doubled midranks carry ties exactly: r2 = 2·minrank
# + ties − 1). H = 12/(N(N+1)) · Σ_g S_g²/(4·n_g)·... computed with
# doubled sums: H = 3·Σ_g (S2_g²/n_g)/(N(N+1)) − 3(N+1); the tie
# correction divides by 1 − Σ(t³−t)/(N³−N). Every sum is an exact
# integer; the closing chain is identical IEEE on both engines.

_KW_ORACLE = f"""
    WITH {DAY_COUNTS_CTE},
    ranked AS (
      SELECT day_idx % 7 AS dow, n,
             RANK() OVER (ORDER BY n) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY n) AS BIGINT) AS eq
      FROM daily
    ),
    r2s AS (SELECT dow, 2 * rk + eq - 1 AS r2, eq FROM ranked),
    per_g AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(r2) AS BIGINT) AS s2
      FROM r2s GROUP BY dow
    ),
    ties AS (
      SELECT CAST(SUM(eq * eq * eq - eq) AS BIGINT) AS t3
      FROM (SELECT n, CAST(COUNT(*) AS BIGINT) AS eq
            FROM daily GROUP BY n)
    ),
    tot AS (
      -- per-group terms quantize to DECIMAL before the cross-group
      -- sum: 7 raw double terms would be addition-order-dependent
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(CAST(s2 * s2 / n_g AS DECIMAL(30,10)))
                  AS DOUBLE) AS sq
      FROM per_g
    )
    SELECT p.dow, p.n_g, p.s2,
           CAST(floor(
             (3.0 * t.sq / (CAST(t.n AS DOUBLE) * (t.n + 1))
              - 3.0 * (t.n + 1))
             / (1.0 - CAST(ti.t3 AS DOUBLE)
                      / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n))
             * 1000000.0) AS BIGINT) AS h_corr_micro
    FROM per_g p CROSS JOIN tot t CROSS JOIN ties ti
    ORDER BY p.dow
"""


@query("q_ml_kruskal", oracle=_KW_ORACLE)
def q_ml_kruskal(spark, d):
    """Tie-corrected Kruskal-Wallis across weekdays (module comment).
    The corpus collapses to the calendar-bounded daily grain once;
    ranks, group sums, and the H chain all run on that grain."""
    daily = day_counts(spark, d)
    w_rank = Window.orderBy("n")
    w_eq = Window.partitionBy("n")
    r2s = daily.select(
        (F.col("day_idx") % 7).alias("dow"),
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_eq)
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    per_g = r2s.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("r2").alias("s2")
    )
    ties = (
        daily.groupBy("n")
        .agg(F.count(F.lit(1)).alias("eq"))
        .agg(
            F.sum(
                F.col("eq") * F.col("eq") * F.col("eq") - F.col("eq")
            ).alias("t3")
        )
    )
    tot = per_g.agg(
        F.sum("n_g").alias("n"),
        F.sum(F.expr("cast(s2 * s2 / n_g as decimal(30,10))"))
        .cast("double")
        .alias("sq"),
    )
    return (
        per_g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "dow",
            "n_g",
            "s2",
            "cast(floor("
            " (3.0d * sq / (cast(n as double) * (n + 1))"
            "  - 3.0d * (n + 1))"
            " / (1.0d - cast(t3 as double)"
            "          / (cast(n as double) * n * n - n))"
            " * 1000000.0d) as bigint) AS h_corr_micro",
        )
        .orderBy("dow")
    )


# --------------------------------------------------------------------------
# Power-law tail fit of per-user activity
# --------------------------------------------------------------------------
#
# The corpus-shape question behind sampling and capacity planning: is
# user activity heavy-tailed, and how heavy? Hill/MLE estimator on
# the discrete tail x >= xmin: alpha = 1 + n / Σ ln(x / xmin). Log
# terms quantize to DECIMAL(30,10) before the sum (the q_text_entropy
# discipline); xmin is fixed so both engines subtract the identical
# n·ln(xmin).

_PL_XMIN = 5

_PL_ORACLE = f"""
    WITH activity AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    tail AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
             CAST(SUM(CAST(ln(CAST(x AS DOUBLE) / {_PL_XMIN})
                           AS DECIMAL(30,10))) AS DOUBLE) AS logsum,
             CAST(MAX(x) AS BIGINT) AS x_max
      FROM activity WHERE x >= {_PL_XMIN}
    ),
    pop AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM activity)
    SELECT p.n_users, t.n_tail, t.x_max,
           CAST(t.n_tail * 1000000 // p.n_users AS BIGINT)
               AS tail_share_ppm,
           CAST(floor((1.0 + CAST(t.n_tail AS DOUBLE) / t.logsum)
                      * 1000000.0) AS BIGINT) AS alpha_micro
    FROM tail t CROSS JOIN pop p
"""


@query("q_behavior_powerlaw", oracle=_PL_ORACLE)
def q_behavior_powerlaw(spark, d):
    """Hill/MLE power-law exponent of per-user activity (module
    comment): one per-user collapse, one tail agg with decimal-
    quantized log terms."""
    ev = load(spark, d, "events")
    activity = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    tail = activity.filter(F.col("x") >= _PL_XMIN).agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.sum(
            F.log(F.col("x").cast("double") / _PL_XMIN).cast(
                "decimal(30,10)"
            )
        )
        .cast("double")
        .alias("logsum"),
        F.max("x").alias("x_max"),
    )
    pop = activity.agg(F.count(F.lit(1)).alias("n_users"))
    return tail.crossJoin(F.broadcast(pop)).selectExpr(
        "n_users",
        "n_tail",
        "x_max",
        "n_tail * 1000000L div n_users AS tail_share_ppm",
        "cast(floor((1.0d + cast(n_tail as double) / logsum)"
        " * 1000000.0d) as bigint) AS alpha_micro",
    )


# --------------------------------------------------------------------------
# Duplicate-payment (double-charge) audit
# --------------------------------------------------------------------------
#
# The finance-DQ classic: two orders by the same customer for the
# exact same amount within 3 days are suspicious. Expressed as a
# SELECTIVE equi-join on (custkey, cents) — the natural key that
# makes candidate volume tiny — with the day-gap residual; never an
# all-pairs or time-band explosion. Pairs are (a < b) on orderkey.

_DC_DAYS = 3

_DC_ORACLE = f"""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                  AS BIGINT) AS dday
      FROM orders
    ),
    pairs AS (
      SELECT a.c, abs(a.dday - b.dday) AS gap
      FROM o a JOIN o b
        ON a.c = b.c AND a.cents = b.cents AND a.k < b.k
      WHERE abs(a.dday - b.dday) <= {_DC_DAYS}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT c) AS BIGINT) AS n_customers,
           CAST(COALESCE(SUM(CASE WHEN gap = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_same_day,
           CAST(COALESCE(SUM(gap), 0) AS BIGINT) AS gap_days_sum
    FROM pairs
"""


@query("q_dq_double_charge", oracle=_DC_ORACLE)
def q_dq_double_charge(spark, d):
    """Double-charge audit (module comment): one selective
    (custkey, cents) self-equi-join + day-gap residual, one closing
    1-row agg."""
    orders = load(spark, d, "orders")
    o = orders.selectExpr(
        "o_orderkey AS k",
        "o_custkey AS c",
        "cast(floor(o_totalprice * 100 + 0.5) as bigint) AS cents",
        "cast(datediff(to_date(o_orderdate), date '1970-01-01')"
        " as bigint) AS dday",
    )
    a = o.selectExpr("k AS ka", "c", "cents", "dday AS da")
    b = o.selectExpr("k AS kb", "c", "cents", "dday AS db")
    pairs = (
        a.join(b, ["c", "cents"])
        .filter(
            (F.col("ka") < F.col("kb"))
            & (F.abs(F.col("da") - F.col("db")) <= _DC_DAYS)
        )
        .select("c", F.abs(F.col("da") - F.col("db")).alias("gap"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("c").alias("n_customers"),
        F.coalesce(
            F.sum(F.when(F.col("gap") == 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_same_day"),
        F.coalesce(F.sum("gap"), F.lit(0))
        .cast("long")
        .alias("gap_days_sum"),
    )
