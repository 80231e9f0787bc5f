"""Round-14 batch 2: asymmetric association, chance-corrected
classifier metrics, calibration error, sample entropy, weekday
seasonality strength, and audience overlap.

Six operators closing measurable gaps in the ml/ts/behavior families:

- q_ml_theil_u: Theil's uncertainty coefficients U(type|dow) and
  U(dow|type) — the ASYMMETRIC association view q_ml_cramers_v
  (symmetric) and q_ml_chi2 (test-only) cannot give; U answers "how
  much does knowing the weekday reduce event-type uncertainty".
- q_ml_mcc: Matthews correlation + balanced accuracy + Youden's J +
  markedness for the declared threshold classifier — the
  chance-corrected metrics q_ml_confusion's precision/recall/F1
  family is blind to under class imbalance.
- q_ml_ece: expected / maximum calibration error over the decile
  reliability bins — THE post-hoc calibration numbers (Guo et al.
  2017 popularized ECE), completing q_ml_calibration (per-bin gaps)
  and q_ml_brier_decomp (quadratic decomposition) with the L1/L∞
  summary.
- q_ts_sample_entropy: SampEn(m=1, r=0.2σ) of the daily series
  (Richman & Moorman 2000) — the regularity statistic; low SampEn =
  repetitive/predictable dynamics, high = noise. The template-match
  counts are exact integers; only the closing −ln(A/B) is float.
- q_ts_dow_eta2: η² of the daily count by ISO weekday — the share of
  daily-volume variance explained by weekday seasonality (one-way
  ANOVA effect size), the strength number behind q_ts_seasonal's
  decomposition.
- q_behavior_user_overlap: pairwise audience overlap between event
  types — |U_a∩U_b|, Jaccard, and overlap (Szymkiewicz–Simpson)
  coefficients; the cross-sell / feature-adjacency matrix.

Reference parity: the public repo (databricks/spark-sklearn 0.3.0)
has no relational engine — these extend the SURVEY §2B surface,
cited against the public statistics they implement (Theil 1970;
Matthews 1975; Youden 1950; Naeini/Guo ECE; Richman & Moorman 2000;
Fisher one-way ANOVA η²) re-expressed as Spark DataFrame/SQL plans.

Portability: the pipeline32 posture — exact BIGINT moments, ln only
on integers or identical-IEEE doubles, decimal-quantized per-term
sums, floor-ppm/micro outputs, exponent-notation float literals in
shared texts, BIGINT casts on every aggregate (HUGEINT parity).
ISO weekday splits mirror q_ml_chi2: DuckDB `isodow(ts)` vs Spark
`((dayofweek(ts)+5)%7)+1` — identical values, separate texts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, register_views
from ._helpers import DEC
from .behavior import DAILY_COUNTS_CTE
from .fits import LR_BINS_CTES, lr_decile_bins

# --------------------------------------------------------------------------
# Theil's uncertainty coefficients over the type × ISO-weekday grid
# --------------------------------------------------------------------------
#
# U(X|Y) = I(X;Y)/H(X) with I = H(X)+H(Y)−H(X,Y), all entropies from
# the same bounded contingency grid q_ml_chi2 tests. Every ln sees an
# exact INTEGER count; the Σ c·ln(c) sums quantize each term to
# DECIMAL(30,10) first (q_feat_mutual_info posture), so order cannot
# move them; H/I/U combine in identical-operand IEEE and floor to
# micro/ppm. One corpus-count agg; everything after is grid-sized.

_THEIL_ORACLE = """
    WITH cells AS (
      SELECT CAST(isodow(ts) AS BIGINT) AS dow, event_type AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY dow, x
    ),
    mx AS (
      SELECT SUM(CAST(cx * ln(CAST(cx AS DOUBLE)) AS DECIMAL(30,10)))
                 AS sx
      FROM (SELECT CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY x)
    ),
    my AS (
      SELECT SUM(CAST(cy * ln(CAST(cy AS DOUBLE)) AS DECIMAL(30,10)))
                 AS sy
      FROM (SELECT CAST(SUM(c) AS BIGINT) AS cy FROM cells
            GROUP BY dow)
    ),
    mxy AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             SUM(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(30,10)))
                 AS sxy
      FROM cells
    ),
    ent AS (
      SELECT ln(CAST(t.n AS DOUBLE)) - CAST(x.sx AS DOUBLE) / t.n
                 AS hx,
             ln(CAST(t.n AS DOUBLE)) - CAST(y.sy AS DOUBLE) / t.n
                 AS hy,
             ln(CAST(t.n AS DOUBLE)) - CAST(t.sxy AS DOUBLE) / t.n
                 AS hxy,
             t.n
      FROM mxy t CROSS JOIN mx x CROSS JOIN my y
    )
    SELECT n,
           CAST(floor(hx * 1000000) AS BIGINT) AS h_type_micro,
           CAST(floor(hy * 1000000) AS BIGINT) AS h_dow_micro,
           CAST(floor((hx + hy - hxy) * 1000000) AS BIGINT)
               AS mi_micro,
           CAST(floor((hx + hy - hxy)
                      / NULLIF(hx, CAST(0 AS DOUBLE)) * 1000000)
                AS BIGINT) AS u_type_given_dow_ppm,
           CAST(floor((hx + hy - hxy)
                      / NULLIF(hy, CAST(0 AS DOUBLE)) * 1000000)
                AS BIGINT) AS u_dow_given_type_ppm
    FROM ent
"""


@query("q_ml_theil_u", oracle=_THEIL_ORACLE)
def q_ml_theil_u(spark, d):
    """Theil's U in both directions over the type×weekday grid
    (module comment): one bounded contingency agg is the only corpus
    shuffle; marginal collapses, integer-argument lns,
    decimal-quantized entropy sums, identical-IEEE U ratios floored
    to ppm (the Lloyd-shape 1-row CROSS JOINs carry the three moment
    relations together)."""
    ev = load(spark, d, "events")
    cells = ev.groupBy(
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("long").alias("dow"),
        F.col("event_type").alias("x"),
    ).agg(F.count(F.lit(1)).alias("c"))
    term = lambda c: (  # noqa: E731 — c·ln(c) decimal-quantized
        (F.col(c) * F.log(F.col(c).cast("double"))).cast(DEC)
    )
    mx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("cx"))
        .agg(F.sum(term("cx")).alias("sx"))
    )
    my = (
        cells.groupBy("dow")
        .agg(F.sum("c").alias("cy"))
        .agg(F.sum(term("cy")).alias("sy"))
    )
    mxy = cells.agg(
        F.sum("c").alias("n"), F.sum(term("c")).alias("sxy")
    )
    ent = (
        mxy.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(my))
        .selectExpr(
            "n",
            "ln(cast(n as double)) - cast(sx as double) / n AS hx",
            "ln(cast(n as double)) - cast(sy as double) / n AS hy",
            "ln(cast(n as double)) - cast(sxy as double) / n AS hxy",
        )
    )
    return ent.selectExpr(
        "n",
        "cast(floor(hx * 1000000) as bigint) AS h_type_micro",
        "cast(floor(hy * 1000000) as bigint) AS h_dow_micro",
        "cast(floor((hx + hy - hxy) * 1000000) as bigint) AS mi_micro",
        "cast(floor((hx + hy - hxy) / nullif(hx, cast(0 as double))"
        " * 1000000) as bigint) AS u_type_given_dow_ppm",
        "cast(floor((hx + hy - hxy) / nullif(hy, cast(0 as double))"
        " * 1000000) as bigint) AS u_dow_given_type_ppm",
    )


# --------------------------------------------------------------------------
# Matthews correlation + chance-corrected companions
# --------------------------------------------------------------------------
#
# Same declared threshold classifier as q_ml_confusion (value > 100 ⇒
# purchase); this key adds the metrics that survive class imbalance:
# MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)), balanced
# accuracy = (TPR+TNR)/2, Youden's J = TPR+TNR−1, markedness =
# PPV+NPV−1 (MCC² = J·markedness). Cell counts are exact BIGINTs;
# tp·tn and fp·fn stay under 2^53 while n < 9.4e7 per product factor
# — the √ argument may exceed 2^53, but every multiplication is an
# IEEE op on identical operands in a fixed left-assoc order, so both
# engines round identically (document per the headroom convention;
# past n ≈ 9e7 route the numerator through DECIMAL(38,0)).
# ONE SQL text runs verbatim on both engines.

_MCC_SQL = """
    WITH scored AS (
      SELECT CASE WHEN value > 100 THEN 1 ELSE 0 END AS pred,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    cm AS (
      SELECT CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           CAST(floor(
             (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / NULLIF(sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                           * (tn + fp) * (tn + fn)),
                      CAST(0 AS DOUBLE))
             * 1000000) AS BIGINT) AS mcc_micro,
           CAST(floor(
             (CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0)
              + CAST(tn AS DOUBLE) / NULLIF(tn + fp, 0))
             / 2.0e0 * 1000000) AS BIGINT) AS balanced_acc_ppm,
           CAST(floor(
             (CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0)
              + CAST(tn AS DOUBLE) / NULLIF(tn + fp, 0) - 1.0e0)
             * 1000000) AS BIGINT) AS youden_j_micro,
           CAST(floor(
             (CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0)
              + CAST(tn AS DOUBLE) / NULLIF(tn + fn, 0) - 1.0e0)
             * 1000000) AS BIGINT) AS markedness_micro
    FROM cm
"""


@query("q_ml_mcc", oracle=_MCC_SQL)
def q_ml_mcc(spark, d):
    """Matthews correlation + balanced accuracy + Youden's J +
    markedness (module comment): ONE combinable 4-cell agg over the
    corpus, stateless 1-row projection after. One SQL text runs
    verbatim on both engines (GLOBAL_VERDICT funnel only)."""
    register_views(spark, d, ["events"])
    return spark.sql(_MCC_SQL)


# --------------------------------------------------------------------------
# Expected / maximum calibration error over the decile bins
# --------------------------------------------------------------------------
#
# ECE = Σ_b (n_b/N)·|p̄_b − ō_b| and MCE = max_b |p̄_b − ō_b| over the
# SAME decile bins and bit-identical GD scores as q_ml_calibration /
# q_ml_brier_decomp. |p̄_b − ō_b| is an identical-IEEE double per bin
# (exact decimal score sum, integer positive counts); the weighted
# terms quantize to DECIMAL(30,10) before the 10-term sum; MCE is a
# MAX of micro-quantized BIGINTs (order-free by construction).


_ECE_ORACLE = f"""
    WITH {LR_BINS_CTES},
    gaps AS (
      SELECT nb,
             abs(CAST(sp AS DOUBLE) / nb
                 - CAST(n_pos AS DOUBLE) / nb) AS gap
      FROM bins
    ),
    agg AS (
      SELECT CAST(SUM(nb) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             SUM(CAST(nb * gap AS DECIMAL(30,10))) AS wsum,
             CAST(MAX(CAST(floor(gap * 1000000) AS BIGINT))
                  AS BIGINT) AS mce_q6
      FROM gaps
    )
    SELECT n, n_bins,
           CAST(floor(CAST(wsum AS DOUBLE) / n * 1000000) AS BIGINT)
               AS ece_q6,
           mce_q6
    FROM agg
    """


@query("q_ml_ece", oracle=_ECE_ORACLE)
def q_ml_ece(spark, d):
    """Expected + maximum calibration error (module comment): reuses
    q_ml_logreg's bit-identical GD weights and the decile bins, one
    broadcast-scored corpus scan into a combinable 10-bin agg, then
    10-row arithmetic (ONE_ROW_BROADCAST class)."""
    gaps = lr_decile_bins(spark, d).selectExpr(
        "nb",
        "abs(cast(sp as double) / nb - cast(n_pos as double) / nb)"
        " AS gap",
    )
    agg = gaps.agg(
        F.sum("nb").alias("n"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(F.expr("cast(nb * gap as decimal(30,10))")).alias("wsum"),
        F.max(
            F.expr("cast(floor(gap * 1000000) as bigint)")
        ).alias("mce_q6"),
    )
    return agg.selectExpr(
        "n",
        "n_bins",
        "cast(floor(cast(wsum as double) / n * 1000000) as bigint)"
        " AS ece_q6",
        "mce_q6",
    )


# --------------------------------------------------------------------------
# Sample entropy of the daily series
# --------------------------------------------------------------------------
#
# SampEn(m=1, r=0.2σ) = −ln(A/B): B = #unordered day pairs whose
# values match within r, A = #pairs whose length-2 templates match
# under the Chebyshev distance (both restricted to days with a
# successor — the standard n−m template set). Matching counts are
# exact integers (|Δy| is BIGINT, r an identical-IEEE double from
# exact moments, and INT ≤ DOUBLE compares identically on both
# engines); only the closing −ln(A/B) is float, on the identical
# A/B rational. The pair join is a non-equi self-join ON THE
# CALENDAR-BOUNDED daily relation (≤n² ≈ 134k pairs for a year) —
# Catalyst plans it as BNLJ, the documented bounded-relation
# exemption; the corpus itself is touched once, by the daily agg.

_SAMPEN_SQL = f"""
    WITH {DAILY_COUNTS_CTE},
    idx AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, y
      FROM daily
    ),
    tmpl AS (
      SELECT i, y, LEAD(y) OVER (ORDER BY i) AS y2 FROM idx
    ),
    tol AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             0.2e0 * sqrt((CAST(SUM(y * y) AS DOUBLE)
                           - CAST(SUM(y) AS DOUBLE) * SUM(y)
                             / COUNT(*))
                          / COUNT(*)) AS r
      FROM idx
    ),
    cnt AS (
      SELECT t.n, t.r,
             CAST(SUM(CASE WHEN abs(a.y - b.y) <= t.r
                           THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
             CAST(SUM(CASE WHEN abs(a.y - b.y) <= t.r
                             AND abs(a.y2 - b.y2) <= t.r
                           THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
      FROM tmpl a
      JOIN tmpl b ON b.i > a.i
      CROSS JOIN tol t
      WHERE a.y2 IS NOT NULL AND b.y2 IS NOT NULL
      GROUP BY t.n, t.r
    )
    SELECT n AS n_days,
           CAST(floor(r * 1000000) AS BIGINT) AS r_micro,
           b_cnt AS n_match_m1, a_cnt AS n_match_m2,
           CAST(floor(-ln(CAST(NULLIF(a_cnt, 0) AS DOUBLE)
                          / NULLIF(b_cnt, 0)) * 1000000) AS BIGINT)
               AS sampen_micro
    FROM cnt
"""


@query("q_ts_sample_entropy", oracle=_SAMPEN_SQL)
def q_ts_sample_entropy(spark, d):
    """SampEn(1, 0.2σ) of the daily event series (module comment):
    one calendar collapse, one lag window, exact integer template
    matches over the bounded pair relation, closing −ln on the
    identical rational. One SQL text runs verbatim on both engines.
    NULL when no m=2 template matches exist (NULLIF guards the zero
    numerator — Spark ln(0) is NULL while DuckDB's is -inf, so the
    guard is what makes the undefined case agree), the standard
    SampEn undefined case."""
    register_views(spark, d, ["events"])
    return spark.sql(_SAMPEN_SQL)


# --------------------------------------------------------------------------
# Weekday-seasonality effect size (one-way ANOVA η²) on daily volume
# --------------------------------------------------------------------------
#
# η² = SS_between/SS_total of daily counts grouped by ISO weekday —
# the single number behind "is this series weekly-seasonal": 0 = the
# weekday explains nothing, 1 = volume is a pure weekday function.
# SS terms come from exact per-group BIGINT moments via the
# computational identity (SST = Σy²−(Σy)²/n, SSB = Σ_g s_g²/n_g −
# (Σy)²/n), combined in identical-operand IEEE doubles → floor-ppm.
# The corpus collapses to the calendar grain once; the 7-group
# rollup and the 1-row combination are metadata-sized.

_ETA2_SPARK_DOW = "((dayofweek(day) + 5) % 7) + 1"
_ETA2_DUCK_DOW = "isodow(day)"


def _eta2_sql(dow_expr: str) -> str:
    return f"""
    WITH {DAILY_COUNTS_CTE},
    grp AS (
      SELECT CAST({dow_expr} AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(y) AS BIGINT) AS sg,
             CAST(SUM(y * y) AS BIGINT) AS qg
      FROM daily GROUP BY CAST({dow_expr} AS BIGINT)
    ),
    agg AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(sg) AS BIGINT) AS s,
             CAST(SUM(qg) AS BIGINT) AS q,
             SUM(CAST(CAST(sg AS DOUBLE) * sg / ng
                      AS DECIMAL(30,10))) AS sb
      FROM grp
    )
    SELECT n AS n_days,
           CAST(floor((CAST(sb AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                      / NULLIF(CAST(q AS DOUBLE)
                               - CAST(s AS DOUBLE) * s / n,
                               CAST(0 AS DOUBLE))
                      * 1000000) AS BIGINT) AS eta2_ppm,
           CAST(floor((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                      / n) AS BIGINT) AS var_daily_floor
    FROM agg
    """


@query("q_ts_dow_eta2", oracle=_eta2_sql(_ETA2_DUCK_DOW))
def q_ts_dow_eta2(spark, d):
    """Weekday-seasonality η² (module comment): calendar collapse →
    7-group moment rollup → 1-row identical-IEEE combination. The
    per-group s²/n terms quantize to DECIMAL(30,10) before the
    7-term sum. Same SQL text modulo the pinned isodow/dayofweek
    pair (q_ml_chi2 precedent)."""
    register_views(spark, d, ["events"])
    return spark.sql(_eta2_sql(_ETA2_SPARK_DOW))


# --------------------------------------------------------------------------
# Pairwise audience overlap between event types
# --------------------------------------------------------------------------
#
# For each unordered event-type pair: shared users, Jaccard
# |∩|/|∪|, and the Szymkiewicz–Simpson overlap |∩|/min(|A|,|B|) —
# the adjacency matrix behind cross-sell and feature-bundling
# decisions (overlap ≈ 1 with Jaccard ≪ 1 = containment: one
# audience is a subset of the other). One (user, type) distinct
# collapse; the self-join fans out ≤C(|types|,2) rows per user —
# linear in users for the enum-bounded type domain. Exact integer
# counts; ratios are identical-operand IEEE floored to ppm.

_OVERLAP_SQL = """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu
      FROM ut GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY type_a, type_b
    )
    SELECT p.type_a, p.type_b, p.n_shared,
           sa.nu AS n_a, sb.nu AS n_b,
           CAST(floor(CAST(p.n_shared AS DOUBLE)
                      / (sa.nu + sb.nu - p.n_shared) * 1000000)
                AS BIGINT) AS jaccard_ppm,
           CAST(floor(CAST(p.n_shared AS DOUBLE)
                      / least(sa.nu, sb.nu) * 1000000) AS BIGINT)
               AS overlap_ppm
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    ORDER BY type_a, type_b
"""


@query("q_behavior_user_overlap", oracle=_OVERLAP_SQL)
def q_behavior_user_overlap(spark, d):
    """Pairwise audience overlap matrix (module comment): one
    (user, type) distinct collapse — the only corpus shuffle — an
    enum-bounded self-equi-join on the user key, two size lookups,
    floor-ppm coefficients. One SQL text runs verbatim on both
    engines."""
    register_views(spark, d, ["events"])
    return spark.sql(_OVERLAP_SQL)
