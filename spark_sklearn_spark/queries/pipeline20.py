"""Round-9 batch F: survival comparison, paired-classifier tests,
distributed bootstrap, tolerance as-of join, zone-map skipping audit,
and the dirty-JSON source path.

New keys (SURVEY.md §2B):
- q_ml_logrank       — two-sample log-rank test on time-to-conversion
  (hash-split A/B arms, KM risk sets over the bounded hour grid)
- q_ml_mcnemar       — McNemar paired test between two language
  heuristics against the lang label (exact integer chi2)
- q_ml_kappa         — Cohen's kappa agreement between the same two
  heuristics (exact integer ppm closed form)
- q_ml_bootstrap_ci  — multiplier bootstrap CI of the mean order
  value: 32 deterministic binomial(4,1/4) resample weights, exact
  integer means, rank-picked 2nd/31st bounds
- q_join_asof_tolerance — as-of join with a max-staleness tolerance
  (pandas merge_asof(tolerance=...) semantics) on the single-shuffle
  asof operator
- q_layout_file_skipping — zone-map (file min/max) skip-rate audit of
  two physical layouts against four quarter predicates — the
  clustering-effectiveness planner metric
- q_source_json_corrupt — PERMISSIVE JSONL read with a
  _corrupt_record channel over deterministically injected bad lines

All declared; r8 output policy.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load, warehouse_path
from ._helpers import h56, sql_h56

# --------------------------------------------------------------------------
# Two-sample log-rank test on time-to-conversion
# --------------------------------------------------------------------------
#
# The A/B readout for funnels with censoring: users hash-split into
# two arms (md5-head parity — the deterministic experiment
# assignment), duration = hours from first event to first purchase,
# right-censored at the 48 h follow-up (the q_ts_survival clock,
# pipeline8.py). At every event hour t: O1 += d1(t),
# E1 += d(t)·n1(t)/n(t), V += d(t)·(n1/n)(1−n1/n)(n−d)/(n−1), with
# n_g(t) the suffix risk sums over the ≤49-row hour grid. Terms are
# decimal-quantized before the cross-hour sum; chi2 closes as
# (O1−E1)²/V. Only the per-user collapse touches corpus-scale rows.

_LR_H = 48  # follow-up horizon, hours (q_ts_survival's KM_FOLLOWUP_H)

_LR_ORACLE = f"""
    WITH per_user AS (
      SELECT user_id,
             {sql_h56("CAST(user_id AS VARCHAR)")} % 2 AS g,
             CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS e0,
             CAST(epoch(date_trunc('second', MAX(ts))) AS BIGINT) AS el,
             CAST(epoch(date_trunc('second', MIN(CASE
               WHEN event_type = 'purchase' THEN ts END))) AS BIGINT)
                 AS ec
      FROM events GROUP BY user_id
    ),
    lif AS (
      SELECT g,
             CASE WHEN ec IS NOT NULL
                   AND (ec - e0) // 3600 <= {_LR_H}
                  THEN 1 ELSE 0 END AS died,
             CASE WHEN ec IS NOT NULL
                   AND (ec - e0) // 3600 <= {_LR_H}
                  THEN (ec - e0) // 3600
                  ELSE least((el - e0) // 3600, {_LR_H}) END AS h
      FROM per_user
    ),
    counts AS (
      SELECT g, h,
             CAST(SUM(died) AS BIGINT) AS d,
             CAST(SUM(1 - died) AS BIGINT) AS c
      FROM lif GROUP BY g, h
    ),
    grid AS (
      SELECT gg.g, hh.h FROM (SELECT unnest([0, 1]) AS g) gg
      CROSS JOIN (SELECT unnest(range(0, {_LR_H + 1})) AS h) hh
    ),
    filled AS (
      SELECT gr.g, gr.h,
             COALESCE(c.d, 0) AS d, COALESCE(c.c, 0) AS c
      FROM grid gr LEFT JOIN counts c ON c.g = gr.g AND c.h = gr.h
    ),
    risk AS (
      SELECT g, h, d,
             CAST(SUM(d + c) OVER (PARTITION BY g ORDER BY h DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_at
      FROM filled
    ),
    by_hour AS (
      SELECT h,
             CAST(SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT)
                 AS d1,
             CAST(SUM(d) AS BIGINT) AS dt,
             CAST(SUM(CASE WHEN g = 1 THEN n_at ELSE 0 END) AS BIGINT)
                 AS n1,
             CAST(SUM(n_at) AS BIGINT) AS nt
      FROM risk GROUP BY h
    ),
    terms AS (
      SELECT d1,
             CAST(dt AS DOUBLE) * n1 / nt AS e_t,
             CASE WHEN nt > 1 THEN
               CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / nt)
               * (1.0 - CAST(n1 AS DOUBLE) / nt)
               * (nt - dt) / (nt - 1)
             ELSE 0.0 END AS v_t
      FROM by_hour WHERE dt > 0 AND nt > 0
    ),
    tot AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(CAST(e_t AS DECIMAL(30,10))) AS DOUBLE) AS e1,
             CAST(SUM(CAST(v_t AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM terms
    )
    SELECT o1,
           CAST(floor(e1 * 1000000.0) AS BIGINT) AS e1_micro,
           CAST(floor(v * 1000000.0) AS BIGINT) AS v_micro,
           CAST(floor((o1 - e1) * (o1 - e1) / v * 1000000.0) AS BIGINT)
               AS chi2_micro
    FROM tot
"""


@query("q_ml_logrank", oracle=_LR_ORACLE)
def q_ml_logrank(spark, d):
    """Two-sample log-rank test on censored time-to-conversion
    (module comment). Plan: one corpus-scale per-user collapse; the
    hour grid, risk-set suffix windows, and term sums all run on the
    49x2-row horizon-bounded relation."""
    ev = load(spark, d, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("second", "ts").cast("long")).alias("e0"),
        F.max(F.date_trunc("second", "ts").cast("long")).alias("el"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.date_trunc("second", "ts").cast("long"),
            )
        ).alias("ec"),
    ).withColumn("g", h56("cast(user_id as string)") % 2)
    died_cond = F.col("ec").isNotNull() & (
        F.expr("(ec - e0) div 3600") <= _LR_H
    )
    lif = per_user.select(
        "g",
        F.when(died_cond, 1).otherwise(0).alias("died"),
        F.when(died_cond, F.expr("(ec - e0) div 3600"))
        .otherwise(F.least(F.expr("(el - e0) div 3600"), F.lit(_LR_H)))
        .alias("h"),
    )
    counts = lif.groupBy("g", "h").agg(
        F.sum("died").alias("d"), F.sum(1 - F.col("died")).alias("c")
    )
    grid = (
        spark.range(2)
        .select(F.col("id").alias("g"))
        .crossJoin(
            spark.range(_LR_H + 1).select(F.col("id").alias("h"))
        )
    )
    filled = grid.join(counts, ["g", "h"], "left").select(
        "g",
        "h",
        F.coalesce("d", F.lit(0)).alias("d"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    w_risk = Window.partitionBy("g").orderBy(F.desc("h")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = filled.select(
        "g", "h", "d",
        F.sum(F.col("d") + F.col("c")).over(w_risk).alias("n_at"),
    )
    by_hour = risk.groupBy("h").agg(
        F.sum(F.when(F.col("g") == 1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum("d").alias("dt"),
        F.sum(
            F.when(F.col("g") == 1, F.col("n_at")).otherwise(0)
        ).alias("n1"),
        F.sum("n_at").alias("nt"),
    )
    terms = by_hour.filter(
        (F.col("dt") > 0) & (F.col("nt") > 0)
    ).selectExpr(
        "d1",
        "cast(dt as double) * n1 / nt AS e_t",
        "case when nt > 1 then"
        " cast(dt as double) * (cast(n1 as double) / nt)"
        " * (1.0d - cast(n1 as double) / nt)"
        " * (nt - dt) / (nt - 1) else 0.0d end AS v_t",
    )
    tot = terms.agg(
        F.sum("d1").alias("o1"),
        F.sum(F.col("e_t").cast("decimal(30,10)"))
        .cast("double")
        .alias("e1"),
        F.sum(F.col("v_t").cast("decimal(30,10)"))
        .cast("double")
        .alias("v"),
    )
    return tot.selectExpr(
        "o1",
        "cast(floor(e1 * 1000000.0d) as bigint) AS e1_micro",
        "cast(floor(v * 1000000.0d) as bigint) AS v_micro",
        "cast(floor((o1 - e1) * (o1 - e1) / v * 1000000.0d) as bigint)"
        " AS chi2_micro",
    )


# --------------------------------------------------------------------------
# McNemar + Cohen's kappa over two language heuristics
# --------------------------------------------------------------------------
#
# Two cheap English detectors — A: the document contains ' the ',
# B: it contains ' and ' or ' of ' — judged against the lang label.
# McNemar tests whether their error rates differ using only the
# DISCORDANT pairs: chi2 = (b−c)²/(b+c), exact integers end-to-end.
# Kappa measures raw agreement corrected for chance:
# kappa = (po−pe)/(1−pe) = (agree·n − P)/(n² − P) with
# P = yesA·yesB + noA·noB — one exact integer ppm division.

_CLF_CTE = """
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END AS a,
             CASE WHEN text LIKE '% and %' OR text LIKE '% of %'
                  THEN 1 ELSE 0 END AS b
      FROM documents
"""

_MCNEMAR_ORACLE = f"""
    WITH clf AS ({_CLF_CTE}),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_disc,
             CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_disc
      FROM clf
    )
    SELECT n, b_disc, c_disc,
           CAST((b_disc - c_disc) * (b_disc - c_disc) * 1000000
                // (b_disc + c_disc) AS BIGINT) AS chi2_micro
    FROM agg
"""


@query("q_ml_mcnemar", oracle=_MCNEMAR_ORACLE)
def q_ml_mcnemar(spark, d):
    """McNemar paired test between two heuristics (module comment):
    one scan, one combinable agg, exact integer chi2."""
    docs = load(spark, d, "documents")
    clf = docs.selectExpr(
        "case when lang = 'en' then 1 else 0 end AS y",
        "case when text like '% the %' then 1 else 0 end AS a",
        "case when text like '% and %' or text like '% of %'"
        " then 1 else 0 end AS b",
    )
    agg = clf.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1)
            .otherwise(0)
        ).alias("b_disc"),
        F.sum(
            F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1)
            .otherwise(0)
        ).alias("c_disc"),
    )
    return agg.selectExpr(
        "n",
        "b_disc",
        "c_disc",
        "(b_disc - c_disc) * (b_disc - c_disc) * 1000000L"
        " div (b_disc + c_disc) AS chi2_micro",
    )


_KAPPA_ORACLE = f"""
    WITH clf AS ({_CLF_CTE}),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                 AS agree,
             CAST(SUM(a) AS BIGINT) AS yes_a,
             CAST(SUM(b) AS BIGINT) AS yes_b
      FROM clf
    )
    SELECT n, agree, yes_a, yes_b,
           CAST((agree * n - (yes_a * yes_b + (n - yes_a) * (n - yes_b)))
                * 1000000
                // (n * n - (yes_a * yes_b + (n - yes_a) * (n - yes_b)))
                AS BIGINT) AS kappa_ppm
    FROM agg
"""


@query("q_ml_kappa", oracle=_KAPPA_ORACLE)
def q_ml_kappa(spark, d):
    """Cohen's kappa between the two heuristics (module comment):
    exact integer closed form, one combinable agg. Both engines'
    integer division truncates toward zero (CLAUDE.md pinned), so a
    negative kappa still hashes identically."""
    docs = load(spark, d, "documents")
    clf = docs.selectExpr(
        "case when text like '% the %' then 1 else 0 end AS a",
        "case when text like '% and %' or text like '% of %'"
        " then 1 else 0 end AS b",
    )
    agg = clf.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias(
            "agree"
        ),
        F.sum("a").alias("yes_a"),
        F.sum("b").alias("yes_b"),
    )
    return agg.selectExpr(
        "n",
        "agree",
        "yes_a",
        "yes_b",
        "(agree * n - (yes_a * yes_b + (n - yes_a) * (n - yes_b)))"
        " * 1000000L"
        " div (n * n - (yes_a * yes_b + (n - yes_a) * (n - yes_b)))"
        " AS kappa_ppm",
    )


# --------------------------------------------------------------------------
# Multiplier bootstrap CI of the mean order value
# --------------------------------------------------------------------------
#
# THE distributed bootstrap: instead of resampling rows (impossible
# without a global shuffle per replicate), each row gets B
# deterministic integer multiplier weights — here binomial(4, 1/4)
# draws from md5-head nibbles (mean 1, variance 3/4, the Poisson-
# bootstrap stand-in with exact integer arithmetic). Every replicate
# mean is an exact integer division of two combinable sums; the CI is
# a rank pick over the 32-row replicate relation.

_BOOT_B = 32

# One md5 yields 7 replicate bytes (56 bits): replicate b = s*7+r+1
# draws its byte as (h >> 8r) & 255 and its binomial(4, 1/4) weight
# as four 2-bit zero-tests of that byte — 5 md5 calls per row instead
# of 32 (measured 4.4 s -> the hash was the whole wall).
_BOOT_W = (
    "CASE WHEN x % 4 = 0 THEN 1 ELSE 0 END"
    " + CASE WHEN (x // 4) % 4 = 0 THEN 1 ELSE 0 END"
    " + CASE WHEN (x // 16) % 4 = 0 THEN 1 ELSE 0 END"
    " + CASE WHEN (x // 64) % 4 = 0 THEN 1 ELSE 0 END"
)

_BOOT_ORACLE = f"""
    WITH salted AS (
      SELECT s.s,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             {sql_h56("CAST(s.s AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)")}
                 AS h
      FROM orders CROSS JOIN (SELECT unnest(range(0, 5)) AS s) s
    ),
    expanded AS (
      SELECT s * 7 + r + 1 AS b, cents,
             (h >> (8 * r)) & 255 AS x
      FROM salted CROSS JOIN (SELECT unnest(range(0, 7)) AS r) r
      WHERE s * 7 + r + 1 <= {_BOOT_B}
    ),
    reps AS (
      SELECT b,
             CAST(SUM(({_BOOT_W}) * cents) AS BIGINT) AS swc,
             CAST(SUM({_BOOT_W}) AS BIGINT) AS sw
      FROM expanded GROUP BY b
    ),
    ranked AS (
      SELECT swc * 1000 // sw AS mean_milli,
             ROW_NUMBER() OVER (ORDER BY swc * 1000 // sw, b) AS rk
      FROM reps
    ),
    point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  * 1000 // COUNT(*) AS BIGINT) AS point_milli
      FROM orders
    )
    SELECT p.n, p.point_milli,
           CAST((SELECT mean_milli FROM ranked WHERE rk = 2) AS BIGINT)
               AS lo_milli,
           CAST((SELECT mean_milli FROM ranked WHERE rk = {_BOOT_B - 1})
                AS BIGINT) AS hi_milli
    FROM point p
"""


@query("q_ml_bootstrap_ci", oracle=_BOOT_ORACLE)
def q_ml_bootstrap_ci(spark, d):
    """Multiplier-bootstrap CI of the mean order value (module
    comment). Plan: a 5-salt explode (one md5 each) then a 7-byte
    replicate explode feeding a combinable (b)-keyed agg — a single
    corpus-scale shuffle of 32 rows out; rank pick runs on the
    32-row replicate relation."""
    orders = load(spark, d, "orders")
    salted = orders.select(
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
            "cents"
        ),
        F.col("o_orderkey"),
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("s"),
    ).withColumn(
        "h",
        h56("concat(cast(s as string), ':', cast(o_orderkey as string))"),
    )
    expanded = (
        salted.select(
            "s",
            "cents",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("r"),
        )
        .filter(F.expr(f"s * 7 + r + 1 <= {_BOOT_B}"))
        .selectExpr(
            "s * 7 + r + 1 AS b",
            "cents",
            "shiftright(h, 8 * r) & 255 AS x",
        )
    )
    reps = (
        expanded.selectExpr(
            "b",
            "cents",
            "case when x % 4 = 0 then 1 else 0 end"
            " + case when (x div 4) % 4 = 0 then 1 else 0 end"
            " + case when (x div 16) % 4 = 0 then 1 else 0 end"
            " + case when (x div 64) % 4 = 0 then 1 else 0 end AS w",
        )
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swc"),
            F.sum("w").alias("sw"),
        )
    )
    ranked = reps.selectExpr(
        "swc * 1000L div sw AS mean_milli", "b"
    ).withColumn(
        "rk", F.row_number().over(Window.orderBy("mean_milli", "b"))
    )
    lo = ranked.filter(F.col("rk") == 2).select(
        F.col("mean_milli").alias("lo_milli")
    )
    hi = ranked.filter(F.col("rk") == _BOOT_B - 1).select(
        F.col("mean_milli").alias("hi_milli")
    )
    point = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "cast(sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
            " * 1000L div count(*) as bigint)"
        ).alias("point_milli"),
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("n", "point_milli", "lo_milli", "hi_milli")
    )


# --------------------------------------------------------------------------
# As-of join with a staleness tolerance
# --------------------------------------------------------------------------
#
# pandas merge_asof(tolerance=...) semantics: the latest click at or
# before each purchase COUNTS only if it is at most 6 h stale — the
# attribution-window rule. Because the as-of match is the NEAREST
# prior click, tolerance filtering is a post-predicate on the
# single-shuffle asof operator's output: no second join, no window
# rerun. Reported as the match funnel + exact integer gap mass so
# the tolerance semantics themselves are hash-checked.

_TOL_S = 6 * 3600

_TOL_ORACLE = f"""
    WITH p AS (SELECT event_id AS p_id, user_id,
                      CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                          AS pts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS c_id, user_id,
                      CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                          AS cts
               FROM events WHERE event_type = 'click'),
         j AS (
           SELECT p.p_id, c.c_id, p.pts, c.cts,
                  row_number() OVER (PARTITION BY p.p_id
                                     ORDER BY c.cts DESC, c.c_id DESC)
                      AS rn
           FROM p LEFT JOIN c
             ON p.user_id = c.user_id AND c.cts <= p.pts
         ),
         best AS (SELECT * FROM j WHERE rn = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN c_id IS NOT NULL
                          AND pts - cts <= {_TOL_S}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_tol,
           CAST(SUM(CASE WHEN c_id IS NOT NULL
                          AND pts - cts <= {_TOL_S}
                         THEN (pts - cts) // 60 ELSE 0 END) AS BIGINT)
               AS gap_minutes_sum,
           CAST(SUM(CASE WHEN c_id IS NOT NULL
                          AND pts - cts <= {_TOL_S}
                         THEN c_id ELSE 0 END) AS BIGINT)
               AS matched_click_checksum
    FROM best
"""


@query("q_join_asof_tolerance", oracle=_TOL_ORACLE)
def q_join_asof_tolerance(spark, d):
    """Tolerance as-of join (module comment): the single-shuffle asof
    operator + one post-predicate; the oracle runs the quadratic
    row_number emulation of the same semantics."""
    from ..operators.asof import asof_join

    ev = load(spark, d, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.date_trunc("second", "ts").alias("ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.date_trunc("second", "ts").alias("ts"),
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts="ts",
        value_cols=["event_id", "ts"],
        tiebreak="event_id",
    )
    gap = F.col("ts").cast("long") - F.col("asof_ts").cast("long")
    within = F.col("asof_event_id").isNotNull() & (gap <= _TOL_S)
    return j.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(
            F.when(F.col("asof_event_id").isNotNull(), 1).otherwise(0)
        ).alias("n_matched"),
        F.sum(F.when(within, 1).otherwise(0)).alias("n_within_tol"),
        F.sum(
            F.when(within, F.expr(
                "(cast(ts as long) - cast(asof_ts as long)) div 60"
            )).otherwise(0)
        ).alias("gap_minutes_sum"),
        F.sum(
            F.when(within, F.col("asof_event_id")).otherwise(0)
        ).alias("matched_click_checksum"),
    )


# --------------------------------------------------------------------------
# Zone-map file-skipping audit (clustering effectiveness)
# --------------------------------------------------------------------------
#
# The planner metric behind Z-ordering and partition design: given a
# physical layout (rows -> files) and per-file min/max zone maps on
# the predicate column, what fraction of files can a range predicate
# skip outright? Audited for two layouts of orders — key-clustered
# (orderkey ranges per file: date zone maps are wide, little
# skipping) vs date-clustered (month files: quarter predicates skip
# almost everything) — over the four quarters of 1996. The gap
# between the two rows IS the value of clustering, measured.

_SKIP_QUARTERS = [
    ("1996-01-01", "1996-04-01"),
    ("1996-04-01", "1996-07-01"),
    ("1996-07-01", "1996-10-01"),
    ("1996-10-01", "1997-01-01"),
]


def _skip_oracle() -> str:
    preds = " UNION ALL ".join(
        f"SELECT {i} AS pred_id,"
        f" CAST(date_diff('day', DATE '1970-01-01', DATE '{lo}') AS BIGINT)"
        f" AS lo,"
        f" CAST(date_diff('day', DATE '1970-01-01', DATE '{hi}') AS BIGINT)"
        f" AS hi"
        for i, (lo, hi) in enumerate(_SKIP_QUARTERS)
    )
    return f"""
        WITH rows_ AS (
          SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                      AS BIGINT) AS day_num,
                 o_orderkey // 1024 AS f_key,
                 CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                      AS BIGINT) // 30 AS f_date
          FROM orders
        ),
        zones AS (
          SELECT 'by_key' AS layout, f_key AS file_id,
                 CAST(MIN(day_num) AS BIGINT) AS mn,
                 CAST(MAX(day_num) AS BIGINT) AS mx
          FROM rows_ GROUP BY f_key
          UNION ALL
          SELECT 'by_date' AS layout, f_date AS file_id,
                 CAST(MIN(day_num) AS BIGINT) AS mn,
                 CAST(MAX(day_num) AS BIGINT) AS mx
          FROM rows_ GROUP BY f_date
        ),
        preds AS ({preds})
        SELECT z.layout, p.pred_id,
               CAST(COUNT(*) AS BIGINT) AS files_total,
               CAST(SUM(CASE WHEN z.mx < p.lo OR z.mn >= p.hi
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS files_skipped,
               CAST(SUM(CASE WHEN z.mx < p.lo OR z.mn >= p.hi
                             THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                    AS BIGINT) AS skip_ppm
        FROM zones z CROSS JOIN preds p
        GROUP BY z.layout, p.pred_id
        ORDER BY layout, pred_id
    """


@query("q_layout_file_skipping", oracle=_skip_oracle())
def q_layout_file_skipping(spark, d):
    """Zone-map skip-rate audit of two layouts x four quarter
    predicates (module comment). Plan: one scan feeds both layouts'
    zone maps (combinable min/max aggs); the predicate grid is an
    8-row broadcast over the file-count-sized zone relation."""
    orders = load(spark, d, "orders")
    rows_ = orders.selectExpr(
        "cast(datediff(to_date(o_orderdate), date '1970-01-01')"
        " as bigint) AS day_num",
        "o_orderkey div 1024 AS f_key",
    ).selectExpr("day_num", "f_key", "day_num div 30 AS f_date")
    zones = (
        rows_.groupBy(F.col("f_key").alias("file_id"))
        .agg(F.min("day_num").alias("mn"), F.max("day_num").alias("mx"))
        .select(F.lit("by_key").alias("layout"), "file_id", "mn", "mx")
        .unionAll(
            rows_.groupBy(F.col("f_date").alias("file_id"))
            .agg(
                F.min("day_num").alias("mn"), F.max("day_num").alias("mx")
            )
            .select(
                F.lit("by_date").alias("layout"), "file_id", "mn", "mx"
            )
        )
    )
    # the 4-predicate grid attaches via a generator + constant CASE
    # mapping (a crossJoin of even a 4-row side plans as a
    # broadcast nested-loop join, which the scalability gate rejects)
    lo_case = "case " + " ".join(
        f"when pred_id = {i} then"
        f" cast(datediff(date '{lo}', date '1970-01-01') as bigint)"
        for i, (lo, _) in enumerate(_SKIP_QUARTERS)
    ) + " end"
    hi_case = "case " + " ".join(
        f"when pred_id = {i} then"
        f" cast(datediff(date '{hi}', date '1970-01-01') as bigint)"
        for i, (_, hi) in enumerate(_SKIP_QUARTERS)
    ) + " end"
    skipped = F.when(
        (F.col("mx") < F.col("lo")) | (F.col("mn") >= F.col("hi")), 1
    ).otherwise(0)
    return (
        zones.select(
            "layout",
            "file_id",
            "mn",
            "mx",
            F.explode(
                F.sequence(F.lit(0), F.lit(len(_SKIP_QUARTERS) - 1))
            ).alias("pred_id"),
        )
        .selectExpr(
            "layout", "file_id", "mn", "mx", "pred_id",
            f"{lo_case} AS lo", f"{hi_case} AS hi",
        )
        .groupBy("layout", "pred_id")
        .agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(skipped).alias("files_skipped"),
        )
        .selectExpr(
            "layout",
            "pred_id",
            "files_total",
            "files_skipped",
            "files_skipped * 1000000L div files_total AS skip_ppm",
        )
        .orderBy("layout", "pred_id")
    )


# --------------------------------------------------------------------------
# PERMISSIVE JSONL source with a corrupt-record channel
# --------------------------------------------------------------------------
#
# The JSON twin of q_source_csv_dirty: an events slice serializes to
# JSONL, three deterministic malformed lines are injected (truncated
# object, type-violating field, bare garbage), and the PERMISSIVE
# reader must route exactly those three to _corrupt_record while
# every good row re-aggregates to the arithmetic rebuild — the
# schema-on-read contract for the other big text format.

_JSONC_ORACLE = """
    WITH good AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_id % 97 = 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(3 AS BIGINT) AS n_corrupt_total
    FROM good
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q_source_json_corrupt", oracle=_JSONC_ORACLE)
def q_source_json_corrupt(spark, d):
    """Dirty-JSONL ingest (module comment): write a slice + 3 bad
    lines, read PERMISSIVE with _corrupt_record, prove the reader
    drops nothing silently (a bad line in the good set shifts the
    per-type sums and fails the hash)."""
    path = warehouse_path("json_corrupt", d)
    ev = (
        load(spark, d, "events")
        .filter(F.col("event_id") % 97 == 0)
        .selectExpr(
            "event_id",
            "event_type",
            "cast(floor(value * 100 + 0.5) as bigint) AS cents",
        )
    )
    lines = ev.select(
        F.to_json(F.struct("event_id", "event_type", "cents")).alias(
            "value"
        )
    )
    bad = spark.createDataFrame(
        [
            ('{"event_id": 5, "event_type": "click"',),  # truncated
            ('{"event_id": "xx", "event_type": "click", "cents": 1}',),
            ("garbage line",),
        ],
        "value string",
    )
    lines.unionAll(bad).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "event_id bigint, event_type string, cents bigint,"
            " _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    ).cache()
    corrupt_total = back.filter(
        F.col("_corrupt_record").isNotNull()
    ).select(F.count(F.lit(1)).alias("n_corrupt_total"))
    good = back.filter(F.col("_corrupt_record").isNull())
    return (
        good.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_good"),
            F.sum("cents").alias("sum_cents"),
        )
        .crossJoin(F.broadcast(corrupt_total))
        .select("event_type", "n_good", "sum_cents", "n_corrupt_total")
        .orderBy("event_type")
    )
