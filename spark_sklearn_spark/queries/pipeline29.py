"""Round-10 batch C: isotonic calibration, windowed funnels,
spectral periodicity, and effect sizes.

New keys (SURVEY.md §2B):
- q_ml_isotonic_bins — PAV isotonic fit of the purchase-rate
  calibration curve via the exact minimax closed form on the
  bounded bin relation (integer micro end to end)
- q_funnel_window    — time-boxed conversion funnel (48h stage
  windows; the semantics unbounded funnels overcount)
- q_ts_periodogram   — single-frequency DFT power at period 7 vs a
  non-harmonic reference period (folded trig literals, decimal
  products, floor-micro relative power)
- q_ml_cohen_d       — pooled-variance Cohen's d between event-type
  pairs (decimal moments, identical IEEE closing chain)

All declared; r8 output policy.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import DEC
from .behavior import DAY_COUNTS_CTE, day_counts

# --------------------------------------------------------------------------
# Isotonic (PAV) calibration on value-decile bins
# --------------------------------------------------------------------------
#
# The calibration FIT that follows q_ml_calibration's reliability
# diagram: force the per-bin purchase rate monotone in the score.
# PAV is sequential, but its fixed point has the exact minimax
# closed form  iso_i = max_{j<=i} min_{k>=i} avg(y[j..k])  — and on
# the BOUNDED 10-bin relation that is a triangle join over range
# sums, not an iteration (the q_ts_cusum closed-form stance). Range
# averages are exact integer micro (positives*1e6 div count), so the
# minimax runs over exact integers — bit-identical on both engines.
# Scale: the corpus collapses to 10 bins at the first combinable
# agg; everything after is constant-size.

ISO_BINS = 10

_ISO_ORACLE = f"""
    WITH scored AS (
      SELECT least(greatest(CAST(floor(value / 100) AS BIGINT), 0),
                   {ISO_BINS - 1}) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    bins AS (
      SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY bin
    ),
    ranges AS (
      SELECT j.bin AS j, k.bin AS k,
             CAST(SUM(m.pos) * 1000000 // SUM(m.n) AS BIGINT)
                 AS avg_ppm
      FROM bins j
      JOIN bins k ON k.bin >= j.bin
      JOIN bins m ON m.bin BETWEEN j.bin AND k.bin
      GROUP BY j.bin, k.bin
    ),
    stage1 AS (
      SELECT i.bin AS i, r.j,
             MIN(r.avg_ppm) AS mn
      FROM bins i
      JOIN ranges r ON r.j <= i.bin AND r.k >= i.bin
      GROUP BY i.bin, r.j
    ),
    iso AS (
      SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_ppm
      FROM stage1 GROUP BY i
    )
    SELECT b.bin, b.n, b.pos,
           CAST(b.pos * 1000000 // b.n AS BIGINT) AS rate_ppm,
           o.iso_ppm
    FROM bins b JOIN iso o ON o.i = b.bin
    ORDER BY b.bin
"""


@query("q_ml_isotonic_bins", oracle=_ISO_ORACLE)
def q_ml_isotonic_bins(spark, d):
    """Isotonic calibration fit (module comment): value-decile bins,
    raw and PAV-monotone purchase rates in exact integer ppm via the
    minimax closed form on the bounded bin relation — one combinable
    corpus agg, then constant-size triangle joins."""
    ev = load(spark, d, "events")
    scored = ev.select(
        F.expr(
            f"least(greatest(cast(floor(value / 100) as bigint), 0L),"
            f" {ISO_BINS - 1}L)"
        ).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    j = bins.select(F.col("bin").alias("j"))
    k = bins.select(F.col("bin").alias("k"))
    m = bins.select(F.col("bin").alias("m"), "n", "pos")
    ranges = (
        j.join(k, F.col("k") >= F.col("j"))
        .join(m, (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")))
        .groupBy("j", "k")
        .agg(F.expr("sum(pos) * 1000000L div sum(n)").alias("avg_ppm"))
    )
    i_rel = bins.select(F.col("bin").alias("i"))
    stage1 = (
        i_rel.join(
            ranges, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i"))
        )
        .groupBy("i", "j")
        .agg(F.min("avg_ppm").alias("mn"))
    )
    iso = stage1.groupBy("i").agg(F.max("mn").alias("iso_ppm"))
    return (
        bins.join(iso, bins.bin == iso.i)
        .select(
            "bin",
            "n",
            "pos",
            F.expr("pos * 1000000L div n").alias("rate_ppm"),
            "iso_ppm",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Time-boxed conversion funnel
# --------------------------------------------------------------------------

FUNNEL_WINDOW_HOURS = 48


_FUNNEL_W_ORACLE = f"""
    WITH t1 AS (
      SELECT user_id, min(ts) AS ts1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS ts2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1
        AND e.ts <= t1.ts1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS ts3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
        AND e.ts <= t2.ts2 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS stage, CAST(count(*) AS BIGINT) AS n_users FROM t1
      UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM t2
      UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM t3
    ) ORDER BY stage
"""


@query("q_funnel_window", oracle=_FUNNEL_W_ORACLE)
def q_funnel_window(spark, d):
    """Time-boxed funnel: view -> click within {h}h -> purchase
    within {h}h of the click. Identical shape to q_funnel_ordered
    (per-user min-aggregation chained by user_id equi-joins — three
    user-keyed shuffles, stage relations never broadcast) with BOTH
    a lower and an upper time bound per stage — the windowed
    conversion semantics marketing attribution actually uses
    (an unbounded funnel counts a purchase a year later)."""
    ev = load(spark, d, "events")
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter((F.col("ts") > F.col("ts1")) & (F.col("ts") <= F.col("ts1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter((F.col("ts") > F.col("ts2")) & (F.col("ts") <= F.col("ts2") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts3"))
    )
    counts = (
        t1.agg(F.lit(1).alias("stage"), F.count(F.lit(1)).alias("n_users"))
        .unionAll(
            t2.agg(F.lit(2).alias("stage"), F.count(F.lit(1)).alias("n_users"))
        )
        .unionAll(
            t3.agg(F.lit(3).alias("stage"), F.count(F.lit(1)).alias("n_users"))
        )
    )
    return counts.orderBy("stage")


# --------------------------------------------------------------------------
# Single-frequency periodogram (weekly periodicity strength)
# --------------------------------------------------------------------------
#
# The spectral answer to "does this series have a weekly cycle":
# DFT power at period p needs only cos/sin of (day % p) — p distinct
# angles, FOLDED as literals generated from the same Python floats on
# both sides (the sketches.HLL_NUMER one-literal policy). NOTE on the
# parity mechanism (judge r10): a bare decimal literal like
# 0.6234898018587336 parses as DECIMAL on BOTH Spark SQL and DuckDB,
# so n * c is exact decimal arithmetic BEFORE the DECIMAL(30,10)
# quantize — parity holds via the decimal-literal path, not strtod.
# Do NOT "fix" this by suffixing ::DOUBLE / D on one side only: that
# would move one engine onto binary-double multiply and reintroduce a
# per-value rounding lottery. Products n * c quantize to
# DECIMAL(30,10) and sum exactly, the closing C*C + S*S over total^2
# is one identical IEEE chain (plain multiplies, no libm), and the
# output is floor-micro relative power. Period 11 (non-harmonic of 7,
# no calendar cycle) is the noise floor the weekly reading must beat.

PERIODS = (7, 11)


def _trig_case(col: str, p: int, fn) -> str:
    whens = " ".join(
        f"WHEN {m} THEN {fn(2.0 * math.pi * m / p)!r}"
        for m in range(p)
    )
    return f"(CASE {col} % {p} {whens} END)"


def _periodogram_oracle() -> str:
    rows = []
    for p in PERIODS:
        c = _trig_case("day_idx", p, math.cos)
        s = _trig_case("day_idx", p, math.sin)
        # C*C + S*S as plain IEEE multiplies (no libm pow) — the
        # engine dedups the repeated SUM aggregate, so each decimal
        # sum is still computed once.
        cc = f"CAST(SUM(CAST(n * {c} AS DECIMAL(30,10))) AS DOUBLE)"
        ss = f"CAST(SUM(CAST(n * {s} AS DECIMAL(30,10))) AS DOUBLE)"
        rows.append(f"""
          SELECT {p} AS period,
                 CAST(SUM(n) AS BIGINT) AS total,
                 CAST(floor(
                   ({cc} * {cc} + {ss} * {ss})
                   / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE))
                   * 1000000) AS BIGINT) AS rel_power_micro
          FROM daily""")
    union = " UNION ALL ".join(rows)
    return f"""
        WITH {DAY_COUNTS_CTE}
        SELECT * FROM ({union}) ORDER BY period
    """


@query("q_ts_periodogram", oracle=_periodogram_oracle())
def q_ts_periodogram(spark, d):
    """Weekly-periodicity strength (module comment): DFT power of the
    daily event-count series at period 7 vs the period-11 noise
    floor, relative to total^2, as floor-micro. One combinable
    daily-grain collapse; each period is one more agg over the
    calendar-bounded relation with folded trig literals."""
    daily = day_counts(spark, d)
    outs = []
    for p in PERIODS:
        c = _trig_case("day_idx", p, math.cos)
        s = _trig_case("day_idx", p, math.sin)
        cexp = F.expr(f"sum(cast(n * {c} as {DEC}))").cast("double")
        sexp = F.expr(f"sum(cast(n * {s} as {DEC}))").cast("double")
        outs.append(
            daily.agg(
                F.lit(p).alias("period"),
                F.sum("n").alias("total"),
                F.floor(
                    (cexp * cexp + sexp * sexp)
                    / (
                        F.sum("n").cast("double")
                        * F.sum("n").cast("double")
                    )
                    * 1000000
                ).alias("rel_power_micro"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("period")


# --------------------------------------------------------------------------
# Cohen's d effect sizes between event-type pairs
# --------------------------------------------------------------------------

_COHEN_ORACLE = """
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(30,10))) AS DOUBLE)
                 AS s2
      FROM events GROUP BY event_type
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           CAST(floor(
             ((a.s1 / a.n) - (b.s1 / b.n))
             / sqrt((((a.s2 - a.s1 * a.s1 / a.n) )
                     + ((b.s2 - b.s1 * b.s1 / b.n)))
                    / (a.n + b.n - 2))
             * 1000000) AS BIGINT) AS cohen_d_micro
    FROM m a JOIN m b ON a.event_type < b.event_type
    ORDER BY type_a, type_b
"""


@query("q_ml_cohen_d", oracle=_COHEN_ORACLE)
def q_ml_cohen_d(spark, d):
    """Pooled-variance Cohen's d on value for every event-type pair —
    the practical-significance companion to q_ml_ttest (a tiny p with
    d ~ 0 is noise at scale). One combinable 3-moment agg onto the
    5-row type relation, a 10-row self-join, and one identical IEEE
    closing chain per pair: (m_a - m_b) / sqrt((SS_a + SS_b) /
    (n_a + n_b - 2)) with decimal-exact sums, out as floor-micro."""
    ev = load(spark, d, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast(DEC))
        .cast("double")
        .alias("s2"),
    )
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    pooled = F.sqrt(
        (
            (F.col("s2a") - F.col("s1a") * F.col("s1a") / F.col("na"))
            + (F.col("s2b") - F.col("s1b") * F.col("s1b") / F.col("nb"))
        )
        / (F.col("na") + F.col("nb") - 2)
    )
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.floor(
                (F.col("s1a") / F.col("na") - F.col("s1b") / F.col("nb"))
                / pooled
                * 1000000
            ).alias("cohen_d_micro"),
        )
        .orderBy("type_a", "type_b")
    )
