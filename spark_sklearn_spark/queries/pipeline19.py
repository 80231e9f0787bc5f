"""Round-9 batch E: rank/variance statistics, mergeable set sketches,
network/geo scalar functions, key-skew audit, and label propagation.

New keys (SURVEY.md §2B):
- q_ml_mannwhitney   — tie-corrected Mann-Whitney U (doubled-U exact
  integers via value-level cumulative counts; AUC ppm, z micro)
- q_ml_anova         — one-way ANOVA across order priorities from
  exact decimal cent moments (eta^2 ppm, F micro)
- q_ts_pacf          — partial autocorrelation lags 1..3 via the
  Durbin-Levinson recursion over integer lag moments
- q_sketch_theta     — KMV theta-sketch set algebra (union/intersect
  estimates vs exact, err ppm) on customer segments
- q_sketch_ams       — AMS F2 sketch (9 md5-sign estimators, median
  of integer sketch squares) vs exact second frequency moment
- q_fn_ip            — IPv4 parse/classify: synthesized uint32
  addresses, CIDR-block classification, dotted-quad min/max
- q_geo_grid_join    — grid-bucketed spatial neighbor join in exact
  integer micro-degrees (the all-pairs-free radius join shape)
- q_dq_skew          — partition-key skew audit: heavy-hitter shares
  + exact integer Gini of the per-key row-count distribution
- q_graph_label_prop — 3 unrolled synchronous min-label-propagation
  rounds on the shingle near-dup graph, per-round convergence

All declared; r8 output policy (integer ppm/micro, floor-before-cast,
BIGINT casts over every DuckDB HUGEINT-producing sum).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import h56, sql_h56
from .behavior import DAY_COUNTS_CTE, day_counts
from .shingles import DUP_PAIRS_CTES, dup_pairs

# --------------------------------------------------------------------------
# Mann-Whitney U — tie-corrected rank-sum test, no corpus-wide window
# --------------------------------------------------------------------------
#
# U1 = Σ_v cntA(v)·[cntB(<v) + cntB(v)/2] over distinct VALUES v, so
# the corpus collapses to the (domain-bounded) dollar-bucket grain
# with one combinable agg before any ordering; the cumulative runs
# over the value histogram, never the rows. Doubling U keeps every
# intermediate an exact integer (ties contribute half-steps). The
# z-score uses the tie-corrected variance; identical double chains
# from exact integers on both engines, micro-floored.

_MW_A = "1-URGENT"
_MW_B = "5-LOW"

_MW_ORACLE = f"""
    WITH vals AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100
                 AS b,
             CASE WHEN o_orderpriority = '{_MW_A}' THEN 1 ELSE 0 END
                 AS ia,
             CASE WHEN o_orderpriority = '{_MW_B}' THEN 1 ELSE 0 END
                 AS ib
      FROM orders
      WHERE o_orderpriority IN ('{_MW_A}', '{_MW_B}')
    ),
    hist AS (
      SELECT b, CAST(SUM(ia) AS BIGINT) AS na,
             CAST(SUM(ib) AS BIGINT) AS nb
      FROM vals GROUP BY b
    ),
    cum AS (
      SELECT b, na, nb,
             CAST(COALESCE(SUM(nb) OVER (
               ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS nb_lt
      FROM hist
    ),
    agg AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n1,
             CAST(SUM(nb) AS BIGINT) AS n2,
             CAST(SUM(na * (2 * nb_lt + nb)) AS BIGINT) AS u2,
             CAST(SUM((na + nb) * (na + nb) * (na + nb) - (na + nb))
                  AS BIGINT) AS tie3
      FROM cum
    )
    SELECT n1, n2, u2,
           CAST(u2 * 1000000 // (2 * n1 * n2) AS BIGINT) AS auc_ppm,
           CAST(floor(
             (CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             / (2.0 * sqrt(
                 CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(tie3 AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE)
                         * CAST(n1 + n2 - 1 AS DOUBLE)))))
             * 1000000.0) AS BIGINT) AS z_micro
    FROM agg
"""


@query("q_ml_mannwhitney", oracle=_MW_ORACLE)
def q_ml_mannwhitney(spark, d):
    """Tie-corrected Mann-Whitney U between two order-priority groups
    on dollar-bucketed totals (module comment). Plan: one combinable
    value-histogram agg (corpus -> price domain), one cumulative
    window over the histogram, one closing 1-row agg."""
    orders = load(spark, d, "orders")
    vals = orders.filter(
        F.col("o_orderpriority").isin(_MW_A, _MW_B)
    ).select(
        F.expr(
            "cast(floor(o_totalprice * 100 + 0.5) as bigint) div 100"
        ).alias("b"),
        F.when(F.col("o_orderpriority") == _MW_A, 1).otherwise(0).alias("ia"),
        F.when(F.col("o_orderpriority") == _MW_B, 1).otherwise(0).alias("ib"),
    )
    hist = vals.groupBy("b").agg(
        F.sum("ia").alias("na"), F.sum("ib").alias("nb")
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "na",
        "nb",
        F.coalesce(F.sum("nb").over(w), F.lit(0)).alias("nb_lt"),
    )
    t = F.col("na") + F.col("nb")
    agg = cum.agg(
        F.sum("na").alias("n1"),
        F.sum("nb").alias("n2"),
        F.sum(F.col("na") * (2 * F.col("nb_lt") + F.col("nb"))).alias("u2"),
        F.sum(t * t * t - t).alias("tie3"),
    )
    return agg.selectExpr(
        "n1",
        "n2",
        "u2",
        "u2 * 1000000L div (2 * n1 * n2) AS auc_ppm",
        "cast(floor("
        " (cast(u2 as double) - cast(n1 as double) * cast(n2 as double))"
        " / (2.0d * sqrt("
        "     cast(n1 as double) * cast(n2 as double) / 12.0d"
        "     * (cast(n1 + n2 + 1 as double)"
        "        - cast(tie3 as double)"
        "          / (cast(n1 + n2 as double)"
        "             * cast(n1 + n2 - 1 as double)))))"
        " * 1000000.0d) as bigint) AS z_micro",
    )


# --------------------------------------------------------------------------
# One-way ANOVA across order priorities
# --------------------------------------------------------------------------
#
# F = (SSB/(k−1)) / (SSW/(n−k)) on o_totalprice cents grouped by
# priority. Every group moment (n_h, Σc, Σc²) is an exact integer
# (DECIMAL sums — Σc² exceeds int64); the per-group s1²/n_h terms are
# quantized to DECIMAL(38,4) before the cross-group sum so both
# engines add the identical values in any order. One identical double
# chain closes eta² (ppm) and F (micro).

_ANOVA_ORACLE = """
    WITH grp AS (
      SELECT o_orderpriority AS g,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS s2
      FROM orders GROUP BY o_orderpriority
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_h) AS BIGINT) AS n,
             CAST(SUM(CAST(s1 AS DECIMAL(38,4))) AS DOUBLE) AS s,
             CAST(SUM(CAST(s2 AS DECIMAL(38,4))) AS DOUBLE) AS q,
             CAST(SUM(CAST(s1 * s1 / n_h AS DECIMAL(38,4))) AS DOUBLE)
                 AS bterm
      FROM grp
    )
    SELECT k, n,
           CAST(floor((bterm - s * s / n) / (q - s * s / n) * 1000000.0)
                AS BIGINT) AS eta2_ppm,
           CAST(floor(((bterm - s * s / n) / (k - 1))
                      / ((q - bterm) / (n - k)) * 1000000.0)
                AS BIGINT) AS f_micro
    FROM tot
"""


@query("q_ml_anova", oracle=_ANOVA_ORACLE)
def q_ml_anova(spark, d):
    """One-way ANOVA of order totals across the 5 priorities (module
    comment). Two stacked combinable aggs: corpus -> 5 group-moment
    rows -> 1 totals row; no window, no join."""
    orders = load(spark, d, "orders")
    cents = F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
    grp = orders.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(cents.cast("decimal(30,0)")).cast("double").alias("s1"),
        F.sum((cents * cents).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_h").alias("n"),
        F.sum(F.col("s1").cast("decimal(38,4)")).cast("double").alias("s"),
        F.sum(F.col("s2").cast("decimal(38,4)")).cast("double").alias("q"),
        F.sum(
            (F.col("s1") * F.col("s1") / F.col("n_h")).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("bterm"),
    )
    return tot.selectExpr(
        "k",
        "n",
        "cast(floor((bterm - s * s / n) / (q - s * s / n) * 1000000.0d)"
        " as bigint) AS eta2_ppm",
        "cast(floor(((bterm - s * s / n) / (k - 1))"
        " / ((q - bterm) / (n - k)) * 1000000.0d) as bigint) AS f_micro",
    )


# --------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson, lags 1..3)
# --------------------------------------------------------------------------
#
# rho_k is the lag-k Pearson correlation of the daily event-count
# series (the q_ts_autocorr moment formula, citing
# curation.py:q_ts_autocorr), cast to double from exact integer
# moments BEFORE any arithmetic so products cannot overflow and both
# engines run the identical IEEE chain. PACF then unrolls
# Durbin-Levinson: phi11 = rho1; phi22 = (rho2-rho1^2)/(1-rho1^2);
# phi21 = rho1(1-phi22); phi33 = (rho3 - phi21 rho2 - phi22 rho1)
# / (1 - phi21 rho1 - phi22 rho2). Micro-floored outputs.

_PACF_RHO = """
      (nd * sxy - sx * sy)
      / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
"""

_PACF_ORACLE = f"""
    WITH {DAY_COUNTS_CTE},
    lags AS (SELECT unnest([1, 2, 3]) AS k),
    pairs AS (
      SELECT l.k, a.n AS x, b.n AS y
      FROM daily a
      JOIN lags l ON true
      JOIN daily b ON b.day_idx = a.day_idx + l.k
    ),
    moments AS (
      SELECT k,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy
      FROM pairs GROUP BY k
    ),
    rhos AS (
      SELECT MAX(CASE WHEN k = 1 THEN {_PACF_RHO} END) AS r1,
             MAX(CASE WHEN k = 2 THEN {_PACF_RHO} END) AS r2,
             MAX(CASE WHEN k = 3 THEN {_PACF_RHO} END) AS r3
      FROM moments
    ),
    lvl2 AS (
      SELECT r1, r2, r3,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
      FROM rhos
    ),
    lvl3 AS (
      SELECT r1, r2, r3, p22, r1 * (1.0 - p22) AS p21 FROM lvl2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           CAST(floor(r1 * 1000000.0) AS BIGINT) AS rho1_micro,
           CAST(floor(r2 * 1000000.0) AS BIGINT) AS rho2_micro,
           CAST(floor(r3 * 1000000.0) AS BIGINT) AS rho3_micro,
           CAST(floor(p22 * 1000000.0) AS BIGINT) AS pacf2_micro,
           CAST(floor((r3 - p21 * r2 - p22 * r1)
                      / (1.0 - p21 * r1 - p22 * r2) * 1000000.0)
                AS BIGINT) AS pacf3_micro
    FROM lvl3
"""


@query("q_ts_pacf", oracle=_PACF_ORACLE)
def q_ts_pacf(spark, d):
    """PACF lags 1..3 of the daily event-count series via unrolled
    Durbin-Levinson (module comment). The corpus collapses to the
    calendar-bounded daily grain first; the lag self-join and every
    later relation is days-sized."""
    daily = day_counts(spark, d)
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k")
    )
    a = daily.select(F.col("day_idx").alias("di"), F.col("n").alias("x"))
    b = daily.select(F.col("day_idx").alias("dj"), F.col("n").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("dj") == F.col("di") + F.col("k"))
        .select("k", "x", "y")
    )
    m = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    rho = (
        "(nd * sxy - sx * sy)"
        " / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))"
    )
    rhos = m.selectExpr(
        f"max(case when k = 1 then {rho} end) AS r1",
        f"max(case when k = 2 then {rho} end) AS r2",
        f"max(case when k = 3 then {rho} end) AS r3",
    )
    lvl2 = rhos.selectExpr(
        "r1", "r2", "r3",
        "(r2 - r1 * r1) / (1.0d - r1 * r1) AS p22",
    )
    lvl3 = lvl2.selectExpr(
        "r1", "r2", "r3", "p22", "r1 * (1.0d - p22) AS p21"
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return lvl3.crossJoin(F.broadcast(n_days)).selectExpr(
        "n_days",
        "cast(floor(r1 * 1000000.0d) as bigint) AS rho1_micro",
        "cast(floor(r2 * 1000000.0d) as bigint) AS rho2_micro",
        "cast(floor(r3 * 1000000.0d) as bigint) AS rho3_micro",
        "cast(floor(p22 * 1000000.0d) as bigint) AS pacf2_micro",
        "cast(floor((r3 - p21 * r2 - p22 * r1)"
        " / (1.0d - p21 * r1 - p22 * r2) * 1000000.0d) as bigint)"
        " AS pacf3_micro",
    )


# --------------------------------------------------------------------------
# KMV theta-sketch set algebra
# --------------------------------------------------------------------------
#
# Two customer segments (custkeys with ≥1 urgent / ≥1 low-priority
# order) sketched as the K smallest md5-head h56 values. Union
# estimate = (K−1)·2^56/θ_U with θ_U the Kth smallest of the merged
# hash set; intersection via the theta framework: θ = min(θ_A, θ_B),
# est = |{h ∈ A∩B : h < θ}|·2^56/θ. When a set is smaller than K the
# sketch IS the set and the estimate is exact. Sketches are
# TakeOrdered top-K (distributed, no window); the hash level makes
# estimates AND errors portable integers.

_THETA_K = 256
# 2^56 as an exponent-notation DOUBLE literal (exactly representable):
# plain "…936.0" parses as DECIMAL(18) in DuckDB and (K-1)*θ overflows
# decimal multiplication (the CLAUDE.md literal-overflow trap).
_TWO56_SQL = "7.2057594037927936e16"

_THETA_ORACLE = f"""
    WITH a_keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    b_keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderpriority = '5-LOW'
    ),
    a_h AS (SELECT {sql_h56("CAST(k AS VARCHAR)")} AS h FROM a_keys),
    b_h AS (SELECT {sql_h56("CAST(k AS VARCHAR)")} AS h FROM b_keys),
    a_sk AS (SELECT h FROM a_h ORDER BY h LIMIT {_THETA_K}),
    b_sk AS (SELECT h FROM b_h ORDER BY h LIMIT {_THETA_K}),
    u_sk AS (
      SELECT h FROM (SELECT h FROM a_h UNION SELECT h FROM b_h)
      ORDER BY h LIMIT {_THETA_K}
    ),
    stats AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM a_keys) AS exact_a,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b_keys) AS exact_b,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM
           (SELECT k FROM a_keys UNION SELECT k FROM b_keys)) AS exact_union,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM a_keys
           JOIN b_keys USING (k)) AS exact_inter,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM a_sk) AS ka,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b_sk) AS kb,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM u_sk) AS ku,
        (SELECT MAX(h) FROM a_sk) AS theta_a,
        (SELECT MAX(h) FROM b_sk) AS theta_b,
        (SELECT MAX(h) FROM u_sk) AS theta_u,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM a_sk JOIN b_sk USING (h)
          WHERE h < least((SELECT MAX(h) FROM a_sk),
                          (SELECT MAX(h) FROM b_sk))) AS inter_below
      FROM (SELECT 1)
    )
    SELECT exact_a, exact_b, exact_union, exact_inter,
           CASE WHEN ku < {_THETA_K} THEN ku
                ELSE CAST(floor(({_THETA_K} - 1) * {_TWO56_SQL}
                                / CAST(theta_u AS DOUBLE)) AS BIGINT)
           END AS est_union,
           CASE WHEN ka < {_THETA_K} AND kb < {_THETA_K} THEN exact_inter
                ELSE CAST(floor(CAST(inter_below AS DOUBLE) * {_TWO56_SQL}
                                / CAST(least(theta_a, theta_b) AS DOUBLE))
                          AS BIGINT)
           END AS est_inter
    FROM stats
"""


@query("q_sketch_theta", oracle=_THETA_ORACLE)
def q_sketch_theta(spark, d):
    """KMV theta-sketch union/intersection estimates vs exact (module
    comment). Plan: two distinct collapses, top-K per set via
    TakeOrdered (no global window), tiny sketch joins — the sketch
    side is what ships at 100 TB, the exact side is the eval."""
    orders = load(spark, d, "orders")

    def seg(prio):
        return (
            orders.filter(F.col("o_orderpriority") == prio)
            .select(F.col("o_custkey").alias("k"))
            .distinct()
        )

    a_keys, b_keys = seg("1-URGENT"), seg("5-LOW")
    a_h = a_keys.select(h56("cast(k as string)").alias("h"))
    b_h = b_keys.select(h56("cast(k as string)").alias("h"))
    a_sk = a_h.orderBy("h").limit(_THETA_K)
    b_sk = b_h.orderBy("h").limit(_THETA_K)
    u_sk = a_h.union(b_h).distinct().orderBy("h").limit(_THETA_K)

    def one(df, agg, name):
        return df.agg(agg.alias(name))

    stats = (
        one(a_keys, F.count(F.lit(1)), "exact_a")
        .crossJoin(one(b_keys, F.count(F.lit(1)), "exact_b"))
        .crossJoin(
            one(a_keys.union(b_keys).distinct(), F.count(F.lit(1)),
                "exact_union")
        )
        .crossJoin(
            one(a_keys.join(b_keys, "k"), F.count(F.lit(1)), "exact_inter")
        )
        .crossJoin(one(a_sk, F.count(F.lit(1)), "ka"))
        .crossJoin(one(b_sk, F.count(F.lit(1)), "kb"))
        .crossJoin(one(u_sk, F.count(F.lit(1)), "ku"))
        .crossJoin(one(a_sk, F.max("h"), "theta_a"))
        .crossJoin(one(b_sk, F.max("h"), "theta_b"))
        .crossJoin(one(u_sk, F.max("h"), "theta_u"))
    )
    inter_below = (
        a_sk.join(b_sk, "h")
        .crossJoin(F.broadcast(one(a_sk, F.max("h"), "ta")))
        .crossJoin(F.broadcast(one(b_sk, F.max("h"), "tb")))
        .filter(F.col("h") < F.least("ta", "tb"))
        .agg(F.count(F.lit(1)).alias("inter_below"))
    )
    return stats.crossJoin(F.broadcast(inter_below)).selectExpr(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
        f"case when ku < {_THETA_K} then ku"
        f" else cast(floor(({_THETA_K} - 1) * {_TWO56_SQL}"
        " / cast(theta_u as double)) as bigint) end AS est_union",
        f"case when ka < {_THETA_K} and kb < {_THETA_K} then exact_inter"
        f" else cast(floor(cast(inter_below as double) * {_TWO56_SQL}"
        " / cast(least(theta_a, theta_b) as double)) as bigint) end"
        " AS est_inter",
    )


# --------------------------------------------------------------------------
# AMS F2 sketch — second frequency moment of the token distribution
# --------------------------------------------------------------------------
#
# Nine independent ±1 sign hashes s_j(w) (md5-head parity of j:w);
# sketch_j = Σ_w c_w·s_j(w) is an exact integer; F2_est = median of
# the nine sketch squares. Estimators attach at the VOCABULARY grain
# (word-count agg first, then a 9-row broadcast explode), never the
# token stream. The median of 9 integers is row 5 of a 9-row sort —
# everything stays an exact integer on both engines.

_AMS_J = 9

_AMS_ORACLE = f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
               FROM words GROUP BY w),
    exact AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS f2,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM counts
    ),
    est AS (
      SELECT j.j,
             CAST(SUM(c * (1 - 2 * CAST(
               {sql_h56("CAST(j.j AS VARCHAR) || ':' || w")} % 2
               AS BIGINT))) AS BIGINT) AS sk
      FROM counts CROSS JOIN (SELECT unnest(range(1, {_AMS_J + 1})) AS j) j
      GROUP BY j.j
    ),
    med AS (
      SELECT sk * sk AS sk2,
             ROW_NUMBER() OVER (ORDER BY sk * sk) AS rk
      FROM est
    )
    SELECT e.f2, e.n_tokens, e.n_types,
           m.sk2 AS f2_est,
           CAST(abs(m.sk2 - e.f2) * 1000000 // e.f2 AS BIGINT)
               AS err_ppm
    FROM exact e JOIN med m ON m.rk = {(_AMS_J + 1) // 2}
"""


@query("q_sketch_ams", oracle=_AMS_ORACLE)
def q_sketch_ams(spark, d):
    """AMS F2 sketch vs the exact second frequency moment of the
    document token distribution (module comment). One token-explode
    agg to the vocabulary, a 9-estimator broadcast explode over the
    vocab, a 9-row median."""
    docs = load(spark, d, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = counts.agg(
        F.sum(F.col("c") * F.col("c")).alias("f2"),
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
    )
    js = spark.range(1, _AMS_J + 1).select(F.col("id").alias("j"))
    sign = 1 - 2 * (h56("concat(cast(j as string), ':', w)") % 2)
    est = (
        counts.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(F.sum(F.col("c") * sign).alias("sk"))
    )
    w_med = Window.orderBy(F.col("sk") * F.col("sk"))
    med = (
        est.select((F.col("sk") * F.col("sk")).alias("sk2"))
        .withColumn("rk", F.row_number().over(Window.orderBy("sk2")))
        .filter(F.col("rk") == (_AMS_J + 1) // 2)
        .select("sk2")
    )
    return exact.crossJoin(F.broadcast(med)).selectExpr(
        "f2",
        "n_tokens",
        "n_types",
        "sk2 AS f2_est",
        "abs(sk2 - f2) * 1000000L div f2 AS err_ppm",
    )


# --------------------------------------------------------------------------
# IPv4 parse / CIDR classification
# --------------------------------------------------------------------------
#
# Synthesized-but-deterministic uint32 addresses (md5-head of the
# customer key) parsed into octets, classified into the standard
# special-use CIDR blocks by integer prefix compare — the network-log
# enrichment shape (bit shifts + range checks, no strings in the hot
# path). Dotted-quad strings are rebuilt only for the min/max
# reporting columns.

_IP_ORACLE = f"""
    WITH ips AS (
      SELECT c_custkey,
             {sql_h56("CAST(c_custkey AS VARCHAR)")} % 4294967296 AS ip
      FROM customer
    ),
    classed AS (
      SELECT ip,
        CASE
          WHEN ip // 16777216 = 10 THEN 'private-10/8'
          WHEN ip // 1048576 = 2753 THEN 'private-172.16/12'
          WHEN ip // 65536 = 49320 THEN 'private-192.168/16'
          WHEN ip // 16777216 = 127 THEN 'loopback-127/8'
          WHEN ip // 268435456 = 14 THEN 'multicast-224/4'
          ELSE 'public'
        END AS block
      FROM ips
    )
    SELECT block,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(ip) AS BIGINT) AS min_ip,
           CAST(MAX(ip) AS BIGINT) AS max_ip,
           CAST(MIN(ip) // 16777216 AS VARCHAR) || '.'
             || CAST((MIN(ip) // 65536) % 256 AS VARCHAR) || '.'
             || CAST((MIN(ip) // 256) % 256 AS VARCHAR) || '.'
             || CAST(MIN(ip) % 256 AS VARCHAR) AS min_dotted
    FROM classed
    GROUP BY block
    ORDER BY block
"""


@query("q_fn_ip", oracle=_IP_ORACLE)
def q_fn_ip(spark, d):
    """IPv4 CIDR-block classification over synthesized addresses
    (module comment): one scan, integer divides for the prefix
    compares, one combinable group agg."""
    cust = load(spark, d, "customer")
    ips = cust.select(
        (h56("cast(c_custkey as string)") % F.lit(4294967296)).alias("ip")
    )
    classed = ips.select(
        "ip",
        F.expr(
            "case"
            " when ip div 16777216 = 10 then 'private-10/8'"
            " when ip div 1048576 = 2753 then 'private-172.16/12'"
            " when ip div 65536 = 49320 then 'private-192.168/16'"
            " when ip div 16777216 = 127 then 'loopback-127/8'"
            " when ip div 268435456 = 14 then 'multicast-224/4'"
            " else 'public' end"
        ).alias("block"),
    )
    return (
        classed.groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ip").alias("min_ip"),
            F.max("ip").alias("max_ip"),
        )
        .selectExpr(
            "block",
            "n",
            "min_ip",
            "max_ip",
            "concat(cast(min_ip div 16777216 as string), '.',"
            " cast((min_ip div 65536) % 256 as string), '.',"
            " cast((min_ip div 256) % 256 as string), '.',"
            " cast(min_ip % 256 as string)) AS min_dotted",
        )
        .orderBy("block")
    )


# --------------------------------------------------------------------------
# Grid-bucketed spatial neighbor join (exact integer micro-degrees)
# --------------------------------------------------------------------------
#
# THE scale shape for "all pairs within radius R": bucket points into
# R-sized grid cells, equi-join each point to its 3x3 neighbor cells,
# then apply the exact residual distance predicate — candidate count
# is density-bounded, never quadratic (the same rewrite
# q_join_range_bucket proves for 1-D bands). Coordinates are
# deterministic md5-head synth in integer micro-degrees, distances
# are exact integer squares — zero transcendental risk (haversine's
# sin/cos is NOT correctly-rounded across engines; planar micro-deg
# metric is, and keeps the operator hash-checkable).

_GEO_R = 5_000_000  # 5 degrees in micro-degrees = the join radius

_GEO_ORACLE = f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {sql_h56("'lat:' || CAST(c_custkey AS VARCHAR)")}
               % 180000001 - 90000000 AS lat,
             {sql_h56("'lon:' || CAST(c_custkey AS VARCHAR)")}
               % 360000000 AS lon
      FROM customer
    ),
    cells AS (
      SELECT id, lat, lon,
             lon // {_GEO_R} AS cx,
             (lat + 90000000) // {_GEO_R} AS cy
      FROM pts
    ),
    cand AS (
      SELECT a.id AS ida, b.id AS idb,
             (a.lat - b.lat) * (a.lat - b.lat)
             + (a.lon - b.lon) * (a.lon - b.lon) AS d2
      FROM cells a
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) ox
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) oy
      JOIN cells b ON b.cx = a.cx + ox.dx AND b.cy = a.cy + oy.dy
                   AND a.id < b.id
      WHERE (a.lat - b.lat) * (a.lat - b.lat)
            + (a.lon - b.lon) * (a.lon - b.lon)
            <= {_GEO_R}::BIGINT * {_GEO_R}
    )
    SELECT CAST(d2 * 10 // ({_GEO_R}::BIGINT * {_GEO_R}) AS BIGINT)
               AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(d2) AS BIGINT) AS min_d2,
           CAST(MAX(d2) AS BIGINT) AS max_d2
    FROM cand
    GROUP BY band
    ORDER BY band
"""


@query("q_geo_grid_join", oracle=_GEO_ORACLE)
def q_geo_grid_join(spark, d):
    """Radius join via grid-cell equi-join + exact residual predicate
    (module comment). Plan: one scan -> cell keys, a 9-offset
    broadcast explode, one shuffled equi-join on (cx, cy), a
    combinable band histogram. No window, no cartesian."""
    cust = load(spark, d, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (h56("concat('lat:', cast(c_custkey as string))")
         % F.lit(180000001) - F.lit(90000000)).alias("lat"),
        (h56("concat('lon:', cast(c_custkey as string))")
         % F.lit(360000000)).alias("lon"),
    ).selectExpr(
        "id", "lat", "lon",
        f"lon div {_GEO_R} AS cx",
        f"(lat + 90000000) div {_GEO_R} AS cy",
    )
    # 9 neighbor offsets inlined as one explode (o div 3 - 1,
    # o % 3 - 1) — a generator, not a broadcast nested-loop join
    a = pts.select(
        F.col("id").alias("ida"),
        F.col("lat").alias("lata"),
        F.col("lon").alias("lona"),
        "cx",
        "cy",
        F.explode(F.sequence(F.lit(0), F.lit(8))).alias("o"),
    ).selectExpr(
        "ida", "lata", "lona",
        "cx + (o div 3 - 1) AS tcx",
        "cy + (o % 3 - 1) AS tcy",
    )
    b = pts.selectExpr(
        "id AS idb", "lat AS latb", "lon AS lonb", "cx", "cy"
    )
    r2 = F.lit(_GEO_R).cast("long") * F.lit(_GEO_R)
    d2 = (F.col("lata") - F.col("latb")) * (F.col("lata") - F.col("latb")) + (
        F.col("lona") - F.col("lonb")
    ) * (F.col("lona") - F.col("lonb"))
    cand = (
        a.join(
            b,
            (F.col("tcx") == F.col("cx"))
            & (F.col("tcy") == F.col("cy"))
            & (F.col("ida") < F.col("idb")),
        )
        .withColumn("d2", d2)
        .filter(F.col("d2") <= r2)
    )
    return (
        cand.groupBy(
            (F.col("d2") * 10)
            .cast("long")
            .alias("_t")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("d2").alias("min_d2"),
            F.max("d2").alias("max_d2"),
        )
        .selectExpr(
            f"_t div ({_GEO_R}L * {_GEO_R}L) AS band",
            "n_pairs", "min_d2", "max_d2",
        )
        .groupBy("band")
        .agg(
            F.sum("n_pairs").cast("long").alias("n_pairs"),
            F.min("min_d2").alias("min_d2"),
            F.max("max_d2").alias("max_d2"),
        )
        .orderBy("band")
    )


# --------------------------------------------------------------------------
# Partition-key skew audit
# --------------------------------------------------------------------------
#
# The shuffle-planning question at 100 TB: is o_custkey safe to join/
# aggregate on, or does one hot key serialize a reducer? Reports the
# heavy-hitter shares plus an EXACT integer Gini of the per-key count
# distribution, computed on the count-of-counts relation (tiny —
# bounded by max orders per customer) via the tied-rank closed form:
# keys with count v occupy a contiguous rank block, contributing
# v·(f·F_prev + f(f+1)/2) to Σ rank·count. G = (2T − (n+1)S)/(nS).

_SKEW_ORACLE = """
    WITH counts AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY o_custkey
    ),
    cc AS (
      SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS f
      FROM counts GROUP BY c
    ),
    cum AS (
      SELECT v, f,
             CAST(COALESCE(SUM(f) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS f_prev
      FROM cc
    ),
    gini AS (
      SELECT CAST(SUM(f) AS BIGINT) AS n_keys,
             CAST(SUM(v * f) AS BIGINT) AS n_rows,
             CAST(SUM(v * (f * f_prev + f * (f + 1) // 2)) AS BIGINT)
                 AS t
      FROM cum
    ),
    top10 AS (
      SELECT CAST(SUM(c) AS BIGINT) AS top_c FROM (
        SELECT c FROM counts ORDER BY c DESC, o_custkey LIMIT 10
      )
    ),
    mx AS (SELECT CAST(MAX(c) AS BIGINT) AS max_cnt FROM counts)
    SELECT g.n_rows, g.n_keys, m.max_cnt,
           CAST(m.max_cnt * 1000000 // g.n_rows AS BIGINT)
               AS max_share_ppm,
           CAST(t10.top_c * 1000000 // g.n_rows AS BIGINT)
               AS top10_share_ppm,
           CAST((2 * g.t - (g.n_keys + 1) * g.n_rows) * 1000000
                // (g.n_keys * g.n_rows) AS BIGINT) AS gini_ppm
    FROM gini g CROSS JOIN top10 t10 CROSS JOIN mx m
"""


@query("q_dq_skew", oracle=_SKEW_ORACLE)
def q_dq_skew(spark, d):
    """Join-key skew audit for orders.o_custkey (module comment).
    Plan: one combinable key-count agg, a count-of-counts collapse
    (tiny), the tied-rank Gini over that, top-10 via TakeOrdered."""
    orders = load(spark, d, "orders")
    counts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    cc = counts.groupBy(F.col("c").alias("v")).agg(
        F.count(F.lit(1)).alias("f")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = cc.select(
        "v",
        "f",
        F.coalesce(F.sum("f").over(w), F.lit(0)).alias("f_prev"),
    )
    gini = cum.selectExpr(
        "v", "f", "f_prev",
        "v * (f * f_prev + f * (f + 1) div 2) AS t_v",
    ).agg(
        F.sum("f").alias("n_keys"),
        F.sum(F.expr("v * f")).alias("n_rows"),
        F.sum("t_v").alias("t"),
    )
    top10 = (
        counts.orderBy(F.col("c").desc(), "o_custkey")
        .limit(10)
        .agg(F.sum("c").cast("long").alias("top_c"))
    )
    mx = counts.agg(F.max("c").alias("max_cnt"))
    return (
        gini.crossJoin(F.broadcast(top10))
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            "n_rows",
            "n_keys",
            "max_cnt",
            "max_cnt * 1000000L div n_rows AS max_share_ppm",
            "top_c * 1000000L div n_rows AS top10_share_ppm",
            "(2 * t - (n_keys + 1) * n_rows) * 1000000L"
            " div (n_keys * n_rows) AS gini_ppm",
        )
    )


# --------------------------------------------------------------------------
# Label propagation on the near-dup graph (3 synchronous rounds)
# --------------------------------------------------------------------------
#
# Min-label propagation — the bounded-round community/component
# approximation used when full pointer-jumping convergence isn't
# worth the extra supersteps: l_r(v) = min(l_{r-1}(v),
# min_{u~v} l_{r-1}(u)), unrolled 3 rounds over the memoized LSH
# pair snapshot. Reports the convergence trajectory (distinct labels
# + moved vertices per round) — on this graph round 3 must match the
# exact component count q_graph_component_sizes sees. Each round is
# one equi-join + one combinable min-agg: O(E) per superstep, the
# Pregel shape, no recursion (CLAUDE.md: UnionLoop re-evaluates the
# anchor lineage; unrolling keeps each round's lineage linear).


def _label_prop_oracle() -> str:
    rounds = []
    for r in (1, 2, 3):
        prev = "l0" if r == 1 else f"l{r - 1}"
        rounds.append(f"""
        m{r} AS (
          SELECT e.dst AS doc_id, MIN(p.l) AS nl
          FROM edges e JOIN {prev} p ON p.doc_id = e.src
          GROUP BY e.dst
        ),
        l{r} AS (
          SELECT p.doc_id, least(p.l, COALESCE(m.nl, p.l)) AS l,
                 CASE WHEN COALESCE(m.nl, p.l) < p.l THEN 1 ELSE 0 END
                     AS moved
          FROM {prev} p LEFT JOIN m{r} m ON m.doc_id = p.doc_id
        )""")
    stats = " UNION ALL ".join(
        f"""
        SELECT {r} AS round,
               CAST(COUNT(DISTINCT l) AS BIGINT) AS n_labels,
               CAST(SUM(moved) AS BIGINT) AS n_moved
        FROM l{r}"""
        for r in (1, 2, 3)
    )
    return f"""
        WITH {DUP_PAIRS_CTES},
        edges AS (
          SELECT src, dst FROM pairs
          UNION ALL SELECT dst, src FROM pairs
        ),
        l0 AS (SELECT doc_id, doc_id AS l, 0 AS moved FROM documents),
        {",".join(rounds)}
        SELECT round, n_labels, n_moved FROM ({stats})
        ORDER BY round
    """


@query("q_graph_label_prop", oracle=_label_prop_oracle())
def q_graph_label_prop(spark, d):
    """3 unrolled min-label-propagation rounds on the shingle
    near-dup graph (module comment); rides the memoized dup_pairs
    snapshot. Output: per-round convergence trajectory."""
    docs = load(spark, d, "documents").select("doc_id")
    pairs = dup_pairs(spark, d)
    edges = pairs.select("src", "dst").unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("l"))
    stats = []
    for r in (1, 2, 3):
        nbr = (
            edges.join(
                labels.withColumnRenamed("doc_id", "src"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("l").alias("nl"))
        )
        nxt = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("l"), F.coalesce(F.col("nl"), F.col("l"))
            ).alias("l"),
            F.when(
                F.coalesce(F.col("nl"), F.col("l")) < F.col("l"), 1
            )
            .otherwise(0)
            .alias("moved"),
        )
        stats.append(
            nxt.agg(
                F.lit(r).alias("round"),
                F.count_distinct("l").alias("n_labels"),
                F.sum("moved").alias("n_moved"),
            )
        )
        labels = nxt.select("doc_id", "l")
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")
