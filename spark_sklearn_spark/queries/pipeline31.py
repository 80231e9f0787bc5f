"""Round-13 batch: Yule–Simon fit, piecewise trend, Leiden
refinement, temporal burstiness/memory, spectral concentration, MSTTR.

Six operators extending the behavior/ts/graph/text families (VERDICT
r12 item 8 named the first three as the natural next keys):

- q_behavior_yule_simon: cumulative-advantage (preferential
  attachment) fit of per-user activity — the generative twin of
  q_behavior_powerlaw's Hill tail exponent. Method-of-moments on the
  Yule–Simon distribution keeps the WHOLE fit in exact integer
  rationals: ρ̂ = S/(S−n), P(1) = S/(2S−n).
- q_ts_piecewise_trend: single-breakpoint segmented OLS over the
  daily event series (the piecewise-linear trend primitive under
  Prophet-style changepoint models) — every candidate split scored
  in closed form from prefix-sum moments, no per-candidate rescan.
- q_graph_leiden_refine: the local-move refinement diagnostic from
  the Leiden algorithm (Traag, Waltman & van Eck 2019, "From Louvain
  to Leiden"), applied after ONE min-label superstep over the
  memoized near-dup edge snapshot: for each node, is it better
  edge-attached to a neighboring community than to its own? The
  gain histogram measures partition instability — all zero/negative
  gains ⇔ the refinement pass has converged locally.
- q_behavior_interarrival: Goh–Barabási burstiness B = (σ−μ)/(σ+μ)
  and memory M = corr(gap_i, gap_{i+1}) of per-user inter-arrival
  gaps per event type — the standard two-number point-process
  characterization (temporal twin of q_text_burstiness).
- q_ts_spectral_entropy: spectral concentration of the daily series
  via the participation ratio of a 12-period DFT grid — the Rényi-2
  spectral entropy through exp(−H₂) = PR, no ln on non-integer
  doubles (the q_emb_isotropy trick in the frequency domain).
- q_text_msttr: MSTTR-50 lexical diversity per language — mean
  segmental type-token ratio over full 50-token segments, the
  length-unbiased replacement for raw TTR; pure integer ppm.

Reference parity: the public repo (databricks/spark-sklearn 0.3.0)
has no relational/graph engine — these extend the §2B extension
surface, cited against the public semantics they mirror (Yule 1925 /
Simon 1955 preferential attachment; segmented regression; the Leiden
refinement phase) re-expressed as Spark DataFrame/SQL plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from .behavior import DAILY_COUNTS_CTE, DAY_COUNTS_CTE, day_counts
from .bigrams import (
    NEAR_DUP_DEG_CTES,
    NEAR_DUP_SYM_CTES,
    degrees,
    near_dup_edges,
    near_dup_sym,
)
from .pipeline import SIMHASH_SIG_CTES, simhash_candidates

# --------------------------------------------------------------------------
# Yule–Simon (cumulative-advantage) fit of per-user activity
# --------------------------------------------------------------------------
#
# Preferential attachment with innovation produces the Yule–Simon law
# p(k) = ρ·B(k, ρ+1) ~ k^-(ρ+1); its mean is ρ/(ρ-1), so the
# method-of-moments estimate from n users and S events is
# ρ̂ = m/(m-1) = S/(S-n) — an exact integer rational, no logs. The
# head-probability check P(1) = ρ̂/(ρ̂+1) = S/(2S-n) against the
# observed singleton share f1/n tests the generative story where the
# tail exponent alone (q_behavior_powerlaw) cannot: a corpus can be
# Pareto-tailed without being preferential-attachment shaped.
# int64 headroom: S·1e6 crosses 2^63 near S ≈ 9.2e12 events — far
# past any single-table fixture; past that, compute in DECIMAL.

_YS_ORACLE = """
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(x) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN x = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
           CAST(CAST(SUM(x) AS BIGINT) * 1000000
                // NULLIF(CAST(SUM(x) AS BIGINT) - COUNT(*), 0)
                AS BIGINT) AS rho_micro,
           CAST(CAST(SUM(CASE WHEN x = 1 THEN 1 ELSE 0 END) AS BIGINT)
                * 1000000 // COUNT(*) AS BIGINT) AS p1_obs_ppm,
           CAST(CAST(SUM(x) AS BIGINT) * 1000000
                // NULLIF(2 * CAST(SUM(x) AS BIGINT) - COUNT(*), 0)
                AS BIGINT) AS p1_pred_ppm
    FROM per_user
"""


@query("q_behavior_yule_simon", oracle=_YS_ORACLE)
def q_behavior_yule_simon(spark, d):
    """Yule–Simon cumulative-advantage fit (module comment): one
    per-user collapse, one global agg — every output an exact
    integer rational (floor-ppm via native integer division, the
    Spark `div` / DuckDB `//` pinned pair; NULLIF guards the
    degenerate all-singletons corpus on both engines).

    Shape: the user-grain agg is the only corpus shuffle; the global
    agg's single-partition exchange holds the post-aggregation 1-row
    relation (GLOBAL_VERDICT exemption class)."""
    ev = load(spark, d, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.when(F.col("x") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
    ).selectExpr(
        "n AS n_users",
        "s AS n_events",
        "f1 AS n_singletons",
        "s * 1000000L div nullif(s - n, 0) AS rho_micro",
        "f1 * 1000000L div n AS p1_obs_ppm",
        "s * 1000000L div nullif(2 * s - n, 0) AS p1_pred_ppm",
    )


# --------------------------------------------------------------------------
# Single-breakpoint piecewise (segmented) linear trend
# --------------------------------------------------------------------------
#
# The trend primitive under Prophet-style changepoint models: fit
# y = a + b·t to the daily event-count series with ONE free
# breakpoint, chosen to minimize total SSE. Every candidate split c
# (left = first c days, right = rest) scores in CLOSED FORM from
# prefix-sum moments (Σ1, Σi, Σy, Σiy, Σii, Σyy at each row; right
# moments = totals − prefix), so the 27-candidate scan costs one
# window pass — never a per-candidate rescan. All moment inputs are
# exact BIGINTs < 2^53 (i ≤ n_days, y = daily counts), so the SSE
# doubles are identical IEEE on both engines; SSE is milli-quantized
# BEFORE the argmin (ties break on the earlier day), per the
# round-6-floats convention. ONE SQL text runs on both engines (the
# q_ts_cusum posture); window SUMs are CAST to BIGINT at every step
# (DuckDB HUGEINT parity).
#
# Scale: the corpus collapses to the calendar-bounded daily grain in
# one combinable agg; the prefix window + candidate scoring run on
# that bounded relation (GLOBAL_WINDOW_BOUNDED exemption); the 1-row
# totals CROSS JOIN is the sanctioned Lloyd-shape broadcast.

_PW_SQL = f"""
    WITH {DAILY_COUNTS_CTE},
    idx AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
             day, y
      FROM daily
    ),
    pre AS (
      SELECT i, day, y,
             CAST(SUM(i) OVER w AS BIGINT) AS st,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(i * y) OVER w AS BIGINT) AS sty,
             CAST(SUM(i * i) OVER w AS BIGINT) AS stt,
             CAST(SUM(y * y) OVER w AS BIGINT) AS syy
      FROM idx
      WINDOW w AS (ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT CAST(MAX(i) AS BIGINT) AS n,
             CAST(MAX(st) AS BIGINT) AS tst,
             CAST(MAX(sy) AS BIGINT) AS tsy,
             CAST(MAX(sty) AS BIGINT) AS tsty,
             CAST(MAX(stt) AS BIGINT) AS tstt,
             CAST(MAX(syy) AS BIGINT) AS tsyy
      FROM pre
    ),
    scored AS (
      SELECT p.i AS c, p.day, t.n,
             (CAST(p.syy AS DOUBLE)
              - CAST(p.sy AS DOUBLE) * p.sy / p.i)
             - (CAST(p.sty AS DOUBLE)
                - CAST(p.st AS DOUBLE) * p.sy / p.i)
               * (CAST(p.sty AS DOUBLE)
                  - CAST(p.st AS DOUBLE) * p.sy / p.i)
               / (CAST(p.stt AS DOUBLE)
                  - CAST(p.st AS DOUBLE) * p.st / p.i) AS sse_l,
             (CAST(t.tsyy - p.syy AS DOUBLE)
              - CAST(t.tsy - p.sy AS DOUBLE) * (t.tsy - p.sy)
                / (t.n - p.i))
             - (CAST(t.tsty - p.sty AS DOUBLE)
                - CAST(t.tst - p.st AS DOUBLE) * (t.tsy - p.sy)
                  / (t.n - p.i))
               * (CAST(t.tsty - p.sty AS DOUBLE)
                  - CAST(t.tst - p.st AS DOUBLE) * (t.tsy - p.sy)
                    / (t.n - p.i))
               / (CAST(t.tstt - p.stt AS DOUBLE)
                  - CAST(t.tst - p.st AS DOUBLE) * (t.tst - p.st)
                    / (t.n - p.i)) AS sse_r,
             (CAST(p.sty AS DOUBLE)
              - CAST(p.st AS DOUBLE) * p.sy / p.i)
             / (CAST(p.stt AS DOUBLE)
                - CAST(p.st AS DOUBLE) * p.st / p.i) AS b_l,
             (CAST(t.tsty - p.sty AS DOUBLE)
              - CAST(t.tst - p.st AS DOUBLE) * (t.tsy - p.sy)
                / (t.n - p.i))
             / (CAST(t.tstt - p.stt AS DOUBLE)
                - CAST(t.tst - p.st AS DOUBLE) * (t.tst - p.st)
                  / (t.n - p.i)) AS b_r,
             (CAST(t.tsyy AS DOUBLE)
              - CAST(t.tsy AS DOUBLE) * t.tsy / t.n)
             - (CAST(t.tsty AS DOUBLE)
                - CAST(t.tst AS DOUBLE) * t.tsy / t.n)
               * (CAST(t.tsty AS DOUBLE)
                  - CAST(t.tst AS DOUBLE) * t.tsy / t.n)
               / (CAST(t.tstt AS DOUBLE)
                  - CAST(t.tst AS DOUBLE) * t.tst / t.n) AS sse_tot
      FROM pre p CROSS JOIN tot t
      WHERE p.i >= 2 AND p.i <= t.n - 2
    ),
    pick AS (
      SELECT c, day, n,
             CAST(floor((sse_l + sse_r) * 1000) AS BIGINT)
                 AS sse_split_milli,
             CAST(floor(sse_tot * 1000) AS BIGINT) AS sse_single_milli,
             CAST(floor(b_l * 1000000) AS BIGINT) AS slope_left_micro,
             CAST(floor(b_r * 1000000) AS BIGINT) AS slope_right_micro,
             CAST(floor((1.0 - (sse_l + sse_r)
                               / NULLIF(sse_tot, CAST(0 AS DOUBLE)))
                        * 1000000) AS BIGINT) AS sse_gain_ppm
      FROM scored
      ORDER BY CAST(floor((sse_l + sse_r) * 1000) AS BIGINT), c
      LIMIT 1
    )
    SELECT n AS n_days, c AS break_i, day AS break_day,
           slope_left_micro, slope_right_micro,
           sse_split_milli, sse_single_milli, sse_gain_ppm
    FROM pick
"""


@query("q_ts_piecewise_trend", oracle=_PW_SQL)
def q_ts_piecewise_trend(spark, d):
    """Single-breakpoint segmented OLS on the daily event series
    (module comment): one calendar collapse, one prefix-moment
    window over the bounded daily relation, closed-form SSE per
    candidate, milli-quantized argmin with earlier-day tie-break.
    One SQL text runs verbatim on both engines."""
    from ..sources.io import register_views

    register_views(spark, d, ["events"])
    return spark.sql(_PW_SQL)


# --------------------------------------------------------------------------
# Leiden-style refinement gain over the near-dup community graph
# --------------------------------------------------------------------------
#
# The Leiden algorithm's key addition over Louvain is the REFINEMENT
# phase: re-examine every node's assignment with local moves before
# aggregating communities. This operator runs that diagnostic after
# ONE min-label superstep (l1(v) = min(v, min neighbor) — the first
# round of q_graph_label_prop, deliberately unconverged so
# cross-community edges exist): for each node, compare its edge
# attachment a(v, own community) against its best alternative
# max_{M≠L} a(v, M). gain = best_alt − own > 0 marks a node the
# refinement pass would move; the gain histogram (bounded by max
# degree) measures partition instability in one number per level.
# Pure edge-count gain (CPM with γ → 0) — the degree-product
# modularity correction is deliberately dropped to keep every value
# an exact integer (documented deviation from the paper's CPM).


_LEIDEN_ORACLE = f"""
        WITH {NEAR_DUP_SYM_CTES},
        l1 AS MATERIALIZED (
          SELECT src AS doc_id,
                 least(src, MIN(dst)) AS l
          FROM sym GROUP BY src
        ),
        attach AS MATERIALIZED (
          SELECT s.src AS v, lb.l AS m, CAST(COUNT(*) AS BIGINT) AS a
          FROM sym s JOIN l1 lb ON lb.doc_id = s.dst
          GROUP BY s.src, lb.l
        ),
        own AS (
          SELECT a.v, a.a AS own
          FROM attach a JOIN l1 ON l1.doc_id = a.v AND a.m = l1.l
        ),
        alt AS (
          SELECT a.v, CAST(MAX(a.a) AS BIGINT) AS alt
          FROM attach a JOIN l1 ON l1.doc_id = a.v AND a.m <> l1.l
          GROUP BY a.v
        ),
        gains AS (
          SELECT n.doc_id,
                 COALESCE(al.alt, 0) - COALESCE(o.own, 0) AS gain
          FROM l1 n
          LEFT JOIN own o ON o.v = n.doc_id
          LEFT JOIN alt al ON al.v = n.doc_id
        )
        SELECT CAST(gain AS BIGINT) AS gain,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM gains GROUP BY gain ORDER BY gain
"""


# ROUND-safe: the only ROUND is the driver-PROVEN q_dedup_ngram edge
# predicate (pass r4) in NEAR_DUP_EDGES_CTES, shared by the whole
# near-dup graph family.
@query("q_graph_leiden_refine", oracle=_LEIDEN_ORACLE)
def q_graph_leiden_refine(spark, d):
    """Leiden refinement-phase gain histogram (module comment) over
    the memoized near-dup edge snapshot: one min-label superstep,
    one (node, neighbor-label) attachment agg, two bounded label
    lookups, a gain histogram. Every join is keyed on doc/node ids
    (unbounded parallelism); the histogram group-by key is the gain
    level (degree-bounded domain, post-aggregation)."""
    e = near_dup_sym(spark, d)
    l1 = e.groupBy("src").agg(
        F.least(F.col("src"), F.min("dst")).alias("l")
    ).withColumnRenamed("src", "doc_id")
    attach = (
        e.join(
            l1.select(F.col("doc_id").alias("dst"), F.col("l").alias("m")),
            "dst",
        )
        .groupBy(F.col("src").alias("v"), "m")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    own = (
        attach.join(l1.selectExpr("doc_id AS v", "l"), "v")
        .filter(F.col("m") == F.col("l"))
        .select("v", F.col("a").alias("own"))
    )
    alt = (
        attach.join(l1.selectExpr("doc_id AS v", "l"), "v")
        .filter(F.col("m") != F.col("l"))
        .groupBy("v")
        .agg(F.max("a").alias("alt"))
    )
    gains = (
        l1.selectExpr("doc_id AS v")
        .join(own, "v", "left")
        .join(alt, "v", "left")
        .select(
            (
                F.coalesce("alt", F.lit(0)) - F.coalesce("own", F.lit(0))
            ).alias("gain")
        )
    )
    return (
        gains.groupBy("gain")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("gain")
    )


# --------------------------------------------------------------------------
# Goh–Barabási temporal burstiness + memory of inter-arrival gaps
# --------------------------------------------------------------------------
#
# The standard two-number characterization of a point process (Goh &
# Barabási 2008): burstiness B = (σ−μ)/(σ+μ) of the inter-arrival
# gaps (−1 = perfectly regular, 0 = Poisson, → 1 = extreme bursts)
# and memory M = corr(gap_i, gap_{i+1}) (do long gaps follow long
# gaps?). Computed per event type over each user's stream — the
# temporal twin of q_text_burstiness (term dispersion) and the
# summary-statistic view of q_behavior_gaps' log2 histogram. Gaps in
# whole SECONDS so the decimal moment sums hold headroom: gap ≤
# 2.6e6 s at the fixture's 30-day span, Σ gap² ≤ 6.7e12·n —
# DECIMAL(30,10) overflows near n ≈ 1e7 gaps per type at the maximal
# gap, far past any fixture; rescale to minutes past that.

_IA_ORACLE = """
    WITH seq AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts, event_id)) // 1000000 AS g,
             (lead(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts, event_id) - epoch_us(ts)) // 1000000 AS ng
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(g) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS s,
             CAST(SUM(CAST(g * g AS DECIMAL(30,10))) AS DOUBLE) AS s2
      FROM seq WHERE g IS NOT NULL GROUP BY event_type
    ),
    pairs AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(g) AS BIGINT) AS sx,
             CAST(SUM(ng) AS BIGINT) AS sy,
             CAST(SUM(CAST(g * ng AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(g * g AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ng * ng AS DECIMAL(30,10))) AS DOUBLE) AS syy
      FROM seq WHERE g IS NOT NULL AND ng IS NOT NULL
      GROUP BY event_type
    )
    SELECT m.event_type, m.n AS n_gaps,
           CAST(m.s // m.n AS BIGINT) AS gap_mean_s,
           CAST(floor(
             (sqrt(greatest(m.s2 / m.n
                            - (CAST(m.s AS DOUBLE) / m.n)
                              * (CAST(m.s AS DOUBLE) / m.n), 0.0))
              - CAST(m.s AS DOUBLE) / m.n)
             / NULLIF(sqrt(greatest(m.s2 / m.n
                            - (CAST(m.s AS DOUBLE) / m.n)
                              * (CAST(m.s AS DOUBLE) / m.n), 0.0))
                      + CAST(m.s AS DOUBLE) / m.n, CAST(0 AS DOUBLE))
             * 1000000) AS BIGINT) AS burstiness_micro,
           p.np AS n_pairs,
           CAST(floor(
             (p.np * p.sxy - CAST(p.sx AS DOUBLE) * p.sy)
             / NULLIF(sqrt((p.np * p.sxx
                            - CAST(p.sx AS DOUBLE) * p.sx)
                           * (p.np * p.syy
                              - CAST(p.sy AS DOUBLE) * p.sy)),
                      CAST(0 AS DOUBLE))
             * 1000000) AS BIGINT) AS memory_micro
    FROM m JOIN pairs p USING (event_type)
    ORDER BY m.event_type
"""


@query("q_behavior_interarrival", oracle=_IA_ORACLE)
def q_behavior_interarrival(spark, d):
    """Goh–Barabási burstiness B and memory M of inter-arrival gaps
    per event type (module comment). ONE user×type-partitioned
    lag/lead window is the only corpus shuffle; everything after is a
    |types|-bounded moment agg. Portability: integer second gaps,
    decimal-quantized squares/cross-products, identical-IEEE closing
    expressions floor-micro'd; NULLIF guards zero variance on both
    engines."""
    ev = load(spark, d, "events")
    seq = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY user_id, event_type ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("g"),
        F.expr(
            "(lead(unix_micros(ts)) OVER ("
            "PARTITION BY user_id, event_type ORDER BY ts, event_id)"
            " - unix_micros(ts)) div 1000000"
        ).alias("ng"),
    )
    m = (
        seq.filter(F.col("g").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("g").alias("n"),
            F.sum("g").alias("s"),
            F.sum(F.expr("cast(g * g as decimal(30,10))"))
            .cast("double")
            .alias("s2"),
        )
    )
    pairs = (
        seq.filter(F.col("g").isNotNull() & F.col("ng").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum("g").alias("sx"),
            F.sum("ng").alias("sy"),
            F.sum(F.expr("cast(g * ng as decimal(30,10))"))
            .cast("double")
            .alias("sxy"),
            F.sum(F.expr("cast(g * g as decimal(30,10))"))
            .cast("double")
            .alias("sxx"),
            F.sum(F.expr("cast(ng * ng as decimal(30,10))"))
            .cast("double")
            .alias("syy"),
        )
    )
    return (
        m.join(pairs, "event_type")
        .selectExpr(
            "event_type",
            "n AS n_gaps",
            "s div n AS gap_mean_s",
            "cast(floor("
            " (sqrt(greatest(s2 / n"
            "   - (cast(s as double) / n) * (cast(s as double) / n),"
            "   0.0d))"
            "  - cast(s as double) / n)"
            " / nullif(sqrt(greatest(s2 / n"
            "   - (cast(s as double) / n) * (cast(s as double) / n),"
            "   0.0d))"
            "  + cast(s as double) / n, cast(0 as double))"
            " * 1000000) as bigint) AS burstiness_micro",
            "np AS n_pairs",
            "cast(floor("
            " (np * sxy - cast(sx as double) * sy)"
            " / nullif(sqrt((np * sxx - cast(sx as double) * sx)"
            "   * (np * syy - cast(sy as double) * sy)),"
            "   cast(0 as double))"
            " * 1000000) as bigint) AS memory_micro",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Spectral concentration of the daily series (Rényi-2 / participation)
# --------------------------------------------------------------------------
#
# How concentrated is the event series' spectrum — one clean seasonal
# peak or broadband noise? Rel-power at a bounded period grid (2..13
# days, the q_ts_periodogram DFT machinery with folded trig
# literals), then the participation ratio PR = (Σp)²/Σp² of the
# MILLI-quantized rel-powers: PR = K ⇔ flat spectrum, PR → 1 ⇔ one
# dominant period. exp(−H₂) = PR for Rényi-2 entropy H₂, so pr_micro
# IS the spectral-entropy alarm without ln on non-integer doubles
# (the q_emb_isotropy trick applied to the frequency domain). The
# milli quantization keeps (Σr)²·1e6 ≤ ~2e14 — exact int64.

_SPECTRUM_PERIODS = list(range(2, 14))


def _spectrum_oracle() -> str:
    import math

    from .pipeline29 import _trig_case

    rows = []
    for p in _SPECTRUM_PERIODS:
        c = _trig_case("day_idx", p, math.cos)
        s = _trig_case("day_idx", p, math.sin)
        cc = f"CAST(SUM(CAST(n * {c} AS DECIMAL(30,10))) AS DOUBLE)"
        ss = f"CAST(SUM(CAST(n * {s} AS DECIMAL(30,10))) AS DOUBLE)"
        rows.append(f"""
          SELECT {p} AS period,
                 CAST(floor(
                   ({cc} * {cc} + {ss} * {ss})
                   / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE))
                   * 1000) AS BIGINT) AS r
          FROM daily""")
    union = " UNION ALL ".join(rows)
    return f"""
        WITH {DAY_COUNTS_CTE},
        spec AS (SELECT * FROM ({union})),
        dom AS (
          SELECT period, r FROM spec ORDER BY r DESC, period LIMIT 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS k_periods,
               CAST(MAX(d.period) AS BIGINT) AS dominant_period,
               CAST(CAST(MAX(d.r) AS BIGINT) * 1000000
                    // NULLIF(CAST(SUM(s.r) AS BIGINT), 0) AS BIGINT)
                   AS dom_share_ppm,
               CAST(CAST(SUM(s.r) AS BIGINT)
                    * CAST(SUM(s.r) AS BIGINT) * 1000000
                    // NULLIF(CAST(SUM(s.r * s.r) AS BIGINT)
                              * COUNT(*), 0) AS BIGINT)
                   AS spectral_pr_per_k_micro
        FROM spec s CROSS JOIN dom d
    """


@query("q_ts_spectral_entropy", oracle=_spectrum_oracle())
def q_ts_spectral_entropy(spark, d):
    """Spectral concentration of the daily event series (module
    comment): rel-power at a 12-period DFT grid, dominant period +
    share, and the normalized participation ratio PR/K in micro
    (1e6 ⇔ flat/white spectrum, → 1e6/K ⇔ single-line spectrum) —
    the Rényi-2 spectral entropy through the exp(−H₂) = PR identity,
    integer-exact after one milli quantization on both engines.

    Shape: one calendar collapse feeds ONE wide agg carrying all 24
    trig sums (a 12-branch union would rescan the corpus per period —
    measured 2.99 s vs sub-second fused); the 12-row grid is a stack
    over that 1-row relation. All single-partition funnels hold
    grid-sized relations."""
    import math

    from .pipeline29 import _trig_case
    from ._helpers import DEC

    daily = day_counts(spark, d)
    aggs = [F.sum("n").cast("double").alias("tot")]
    for p in _SPECTRUM_PERIODS:
        c = _trig_case("day_idx", p, math.cos)
        s = _trig_case("day_idx", p, math.sin)
        aggs.append(
            F.expr(f"sum(cast(n * {c} as {DEC}))")
            .cast("double")
            .alias(f"c{p}")
        )
        aggs.append(
            F.expr(f"sum(cast(n * {s} as {DEC}))")
            .cast("double")
            .alias(f"s{p}")
        )
    moments = daily.agg(*aggs)
    stack_args = ", ".join(
        f"{p}L, cast(floor((c{p} * c{p} + s{p} * s{p})"
        f" / (tot * tot) * 1000) as bigint)"
        for p in _SPECTRUM_PERIODS
    )
    spec = moments.selectExpr(
        f"stack({len(_SPECTRUM_PERIODS)}, {stack_args})"
        " AS (period, r)"
    )
    dom = spec.orderBy(F.col("r").desc(), "period").limit(1)
    return (
        spec.agg(
            F.count(F.lit(1)).alias("k_periods"),
            F.sum("r").alias("sr"),
            F.sum(F.expr("r * r")).alias("srr"),
        )
        .crossJoin(
            F.broadcast(
                dom.selectExpr("period AS dominant_period", "r AS dr")
            )
        )
        .selectExpr(
            "k_periods",
            "dominant_period",
            "dr * 1000000L div nullif(sr, 0) AS dom_share_ppm",
            "sr * sr * 1000000L div nullif(srr * k_periods, 0)"
            " AS spectral_pr_per_k_micro",
        )
    )


# --------------------------------------------------------------------------
# MSTTR — mean segmental type-token ratio per language
# --------------------------------------------------------------------------
#
# Raw type-token ratio shrinks with document length (Heaps' law), so
# corpora of different lengths can't be compared on it. MSTTR fixes
# the bias by averaging TTR over fixed 50-token segments (full
# segments only — the standard Johnson/MSTTR-50 definition); the raw
# corpus TTR rides along to SHOW the bias. Pure integers: each full
# segment contributes distinct_tokens·20000 ppm (= d·1e6/50), so the
# per-language mean is one integer division.

_MSTTR_SEG = 50

_MSTTR_ORACLE = f"""
    WITH toks AS (
      SELECT lang, doc_id,
             unnest(string_split(text, ' ')) AS term,
             CAST(generate_subscripts(string_split(text, ' '), 1) - 1
                  AS BIGINT) AS pos
      FROM documents
    ),
    segs AS (
      SELECT lang, doc_id, pos // {_MSTTR_SEG} AS seg,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS n_typ
      FROM toks GROUP BY lang, doc_id, pos // {_MSTTR_SEG}
    ),
    full_segs AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_segments,
             CAST(SUM(n_typ) AS BIGINT) AS typ_sum
      FROM segs WHERE n_tok = {_MSTTR_SEG} GROUP BY lang
    ),
    raw AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS n_types
      FROM toks GROUP BY lang
    )
    SELECT r.lang, r.n_tokens, r.n_types, f.n_segments,
           CAST(r.n_types * 1000000 // r.n_tokens AS BIGINT)
               AS raw_ttr_ppm,
           CAST(f.typ_sum * 20000 // f.n_segments AS BIGINT)
               AS msttr_ppm
    FROM raw r JOIN full_segs f USING (lang)
    ORDER BY r.lang
"""


@query("q_text_msttr", oracle=_MSTTR_ORACLE)
def q_text_msttr(spark, d):
    """MSTTR-50 lexical diversity per language (module comment): one
    posexplode scan, a (lang, doc, segment) distinct agg, a bounded
    lang rollup. Integer ppm end to end — no floats anywhere.

    Shape: the segment agg shuffles on (lang, doc_id, seg) — document
    grain, unbounded parallelism; the lang rollup is |langs|-bounded.
    """
    docs = load(spark, d, "documents")
    toks = docs.select(
        "lang",
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    )
    segs = toks.groupBy(
        "lang", "doc_id", F.expr(f"pos div {_MSTTR_SEG}").alias("seg")
    ).agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct("term").alias("n_typ"),
    )
    full_segs = (
        segs.filter(F.col("n_tok") == _MSTTR_SEG)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("n_typ").alias("typ_sum"),
        )
    )
    raw = toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("n_types"),
    )
    return (
        raw.join(full_segs, "lang")
        .selectExpr(
            "lang",
            "n_tokens",
            "n_types",
            "n_segments",
            "n_types * 1000000L div n_tokens AS raw_ttr_ppm",
            "typ_sum * 20000L div n_segments AS msttr_ppm",
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# RAKE keyword scoring (degree/frequency over stopword-split phrases)
# --------------------------------------------------------------------------
#
# Rapid Automatic Keyword Extraction (Rose et al. 2010): split each
# document into candidate phrases at stopwords, then score each word
# by degree/frequency — deg(w) = Σ |phrase| over phrases containing
# w (co-occurrence degree, favoring words that live in long
# multi-word phrases), freq(w) = occurrences in phrases. The
# content-word complement to q_text_keywords' tf-idf ranking. Pure
# integers: rake_micro = deg·1e6 div freq; top 20 by (score, term).

_RAKE_STOP = ("the", "a", "and", "of", "to", "in", "is", "on")
_RAKE_K = 20


def _rake_stop_sql() -> str:
    return ", ".join(f"'{w}'" for w in _RAKE_STOP)


_RAKE_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS term,
             CAST(generate_subscripts(string_split(text, ' '), 1)
                  AS BIGINT) AS pos
      FROM documents
    ),
    marked AS (
      SELECT doc_id, term, pos,
             CASE WHEN term IN ({_rake_stop_sql()}) THEN 1 ELSE 0 END
                 AS stop
      FROM toks
    ),
    phrased AS (
      SELECT doc_id, term, stop,
             CAST(SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS phrase_id
      FROM marked
    ),
    members AS (
      SELECT doc_id, phrase_id, term
      FROM phrased WHERE stop = 0
    ),
    plen AS (
      SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS len
      FROM members GROUP BY doc_id, phrase_id
    ),
    scored AS (
      SELECT m.term,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(p.len) AS BIGINT) AS deg
      FROM members m
      JOIN plen p USING (doc_id, phrase_id)
      GROUP BY m.term
    )
    SELECT term, freq, deg,
           CAST(deg * 1000000 // freq AS BIGINT) AS rake_micro
    FROM scored
    ORDER BY rake_micro DESC, term
    LIMIT {_RAKE_K}
"""


@query("q_text_rake", oracle=_RAKE_ORACLE)
def q_text_rake(spark, d):
    """RAKE keyword scores (module comment): one posexplode scan, a
    doc-partitioned stopword cumsum assigns phrase ids, a
    (doc, phrase) length agg, a vocabulary-grain degree/frequency
    rollup, TakeOrdered top-20. Integer micro end to end.

    Shape: the phrase window partitions by doc_id (unbounded
    parallelism); both aggs are combinable; the only ordering is the
    final top-k."""
    from pyspark.sql import Window

    docs = load(spark, d, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    )
    marked = toks.withColumn(
        "stop",
        F.when(F.col("term").isin(*_RAKE_STOP), 1).otherwise(0),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    members = (
        marked.withColumn(
            "phrase_id", F.sum("stop").over(w).cast("long")
        )
        .filter(F.col("stop") == 0)
        .select("doc_id", "phrase_id", "term")
    )
    plen = members.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        members.join(plen, ["doc_id", "phrase_id"])
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("len").alias("deg"),
        )
        .selectExpr(
            "term", "freq", "deg",
            "deg * 1000000L div freq AS rake_micro",
        )
        .orderBy(F.col("rake_micro").desc(), "term")
        .limit(_RAKE_K)
    )


# --------------------------------------------------------------------------
# SPRT — sequential probability ratio test on the daily purchase share
# --------------------------------------------------------------------------
#
# Wald's sequential test, the streaming A/B primitive next to the
# fixed-horizon tests (q_ml_ttest/chi2/permutation): monitor the
# daily share of 'purchase' events against H0: p = P0 vs
# H1: p = P1; stop the first day the cumulative log-likelihood
# ratio exits (ln B, ln A). The per-day LLR is
# x·ln(P1/P0) + (n−x)·ln((1−P1)/(1−P0)) with the ln constants
# FOLDED to Python double literals (both engines see the identical
# IEEE constants — the q_ts_periodogram trig-literal trick), per-day
# terms quantized to DECIMAL before the cumsum window (the segment-
# tree accumulation-order trap), verdicts on floor-micro integers.

_SPRT_P0 = 0.15
_SPRT_P1 = 0.25
_SPRT_ALPHA = 0.05
_SPRT_BETA = 0.05


def _sprt_sql() -> str:
    import math

    l1 = math.log(_SPRT_P1 / _SPRT_P0)
    l0 = math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
    up = math.log((1.0 - _SPRT_BETA) / _SPRT_ALPHA)
    lo = math.log(_SPRT_BETA / (1.0 - _SPRT_ALPHA))
    return f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events GROUP BY CAST(date_trunc('day', ts) AS TIMESTAMP)
    ),
    walk AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
             CAST(floor(CAST(SUM(
               CAST(x * {l1!r} + (n - x) * {l0!r}
                    AS DECIMAL(30,10))
             ) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) * 1000000) AS BIGINT) AS llr_micro
      FROM daily
    ),
    crossings AS (
      SELECT i, llr_micro,
             CASE WHEN llr_micro >= {math.floor(up * 1e6)}
                  THEN 'accept_h1'
                  WHEN llr_micro <= {math.ceil(lo * 1e6)}
                  THEN 'accept_h0'
                  ELSE 'continue' END AS state
      FROM walk
    ),
    first_cross AS (
      SELECT i, state FROM crossings WHERE state <> 'continue'
      ORDER BY i LIMIT 1
    ),
    last_row AS (
      SELECT i AS n_days, llr_micro AS final_llr_micro
      FROM walk ORDER BY i DESC LIMIT 1
    )
    SELECT l.n_days, l.final_llr_micro,
           COALESCE(CAST(MAX(f.i) AS BIGINT), 0) AS decision_day,
           COALESCE(MAX(f.state), 'continue') AS decision
    FROM last_row l LEFT JOIN first_cross f ON TRUE
    GROUP BY l.n_days, l.final_llr_micro
    """


@query("q_ml_sprt", oracle=_sprt_sql())
def q_ml_sprt(spark, d):
    """Wald SPRT trajectory on the daily purchase share (module
    comment). Plan: one calendar collapse, one bounded cumsum window,
    TakeOrdered heads for the first crossing and the final state —
    everything after the daily agg is calendar-grid-sized."""
    from ..sources.io import register_views

    register_views(spark, d, ["events"])
    return spark.sql(_sprt_sql())


# --------------------------------------------------------------------------
# Zone-map overlap depth — how well-clustered is a layout?
# --------------------------------------------------------------------------
#
# The lakehouse clustering metric behind OPTIMIZE/ZORDER decisions:
# for each file's [min, max] zone on the filter column, the overlap
# DEPTH at value v is how many files a point-lookup at v must open.
# A perfectly sorted layout has depth 1; depth ≈ #files means zone
# maps skip nothing (the complement of q_layout_file_skipping's
# predicate view, which samples 4 predicates — depth measures ALL of
# them at once). Computed as an endpoint sweep COLLAPSED TO THE DAY
# GRAIN: starts(v) − ends(<v) needs only per-day start/end counts,
# so the cumsum runs on the calendar-bounded day relation however
# many files exist. Same synthetic file assignment as
# q_layout_file_skipping (o_orderkey div 1024 vs day div 30).

_DEPTH_SQL = """
    WITH rows_ AS (
      SELECT CAST(datediff(to_date(o_orderdate), DATE '1970-01-01')
                  AS BIGINT) AS day_num,
             o_orderkey div 1024 AS f_key
      FROM orders
    ),
    zones AS (
      SELECT 'by_key' AS layout, f_key AS file_id,
             CAST(MIN(day_num) AS BIGINT) AS mn,
             CAST(MAX(day_num) AS BIGINT) AS mx
      FROM rows_ GROUP BY f_key
      UNION ALL
      SELECT 'by_date' AS layout, day_num div 30 AS file_id,
             CAST(MIN(day_num) AS BIGINT) AS mn,
             CAST(MAX(day_num) AS BIGINT) AS mx
      FROM rows_ GROUP BY day_num div 30
    ),
    deltas AS (
      SELECT layout, mn AS v, CAST(COUNT(*) AS BIGINT) AS starts,
             CAST(0 AS BIGINT) AS ends
      FROM zones GROUP BY layout, mn
      UNION ALL
      SELECT layout, mx + 1 AS v, CAST(0 AS BIGINT) AS starts,
             CAST(COUNT(*) AS BIGINT) AS ends
      FROM zones GROUP BY layout, mx + 1
    ),
    sweep AS (
      SELECT layout, v,
             CAST(SUM(SUM(starts) - SUM(ends)) OVER (
               PARTITION BY layout ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS depth
      FROM deltas GROUP BY layout, v
    ),
    files AS (
      SELECT layout, CAST(COUNT(*) AS BIGINT) AS files_total
      FROM zones GROUP BY layout
    )
    SELECT s.layout, f.files_total,
           CAST(MAX(s.depth) AS BIGINT) AS max_depth,
           CAST(MAX(s.depth) * 1000000 AS BIGINT)
               {DIV} f.files_total AS max_depth_share_ppm
    FROM sweep s JOIN files f ON f.layout = s.layout
    GROUP BY s.layout, f.files_total
    ORDER BY s.layout
"""


@query(
    "q_layout_overlap_depth",
    oracle=_DEPTH_SQL.replace("{DIV}", "//").replace(
        "div 1024", "// 1024"
    ).replace("div 30", "// 30").replace(
        "datediff(to_date(o_orderdate), DATE '1970-01-01')",
        "date_diff('day', DATE '1970-01-01', o_orderdate)",
    ),
)
def q_layout_overlap_depth(spark, d):
    """Zone-map overlap depth per layout (module comment): one scan
    feeds both layouts' zone maps; the endpoint sweep collapses to
    per-day start/end counts so the layout-partitioned cumsum runs
    on the calendar-bounded day relation regardless of file count."""
    from ..sources.io import register_views

    register_views(spark, d, ["orders"])
    return spark.sql(_DEPTH_SQL.replace("{DIV}", "div"))


# --------------------------------------------------------------------------
# PSI — population stability index of the order-value distribution
# --------------------------------------------------------------------------
#
# The standard model-monitoring drift metric: PSI = Σ_b (p_a − p_e) ·
# ln(p_a/p_e) between an expected window (orders before the split
# date) and an actual window, over fixed 50k-wide price buckets.
# Rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 action. The
# feature-space twin of q_text_kl_source (token drift) and
# q_dq_schema_drift (shape drift). Portability: p_a/p_e expands to
# ln(c_a·N_e) − ln(c_e·N_a) — ln only ever sees INTEGER arguments
# (the q_text_entropy posture; products < 2^53 up to ~3e7 rows per
# window at this bucket grain — past that, divide counts first and
# document the ulp); per-bucket terms quantize to DECIMAL before the
# total. Buckets empty on either side contribute 0 by convention
# (documented deviation from the add-epsilon variant — exact
# integers beat a smoothing constant here).

_PSI_SPLIT = "1998-01-01"
_PSI_BUCKET = 50000

_PSI_ORACLE = f"""
    WITH bucketed AS (
      SELECT CAST(floor(o_totalprice / {_PSI_BUCKET}) AS BIGINT) AS b,
             CASE WHEN o_orderdate < DATE '{_PSI_SPLIT}'
                  THEN 1 ELSE 0 END AS is_expected
      FROM orders
    ),
    cells AS (
      SELECT b,
             CAST(SUM(is_expected) AS BIGINT) AS c_e,
             CAST(SUM(1 - is_expected) AS BIGINT) AS c_a
      FROM bucketed GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(c_e) AS BIGINT) AS n_e,
             CAST(SUM(c_a) AS BIGINT) AS n_a
      FROM cells
    )
    SELECT c.b AS bucket, c.c_e AS n_expected, c.c_a AS n_actual,
           CAST(floor(CASE WHEN c.c_e > 0 AND c.c_a > 0 THEN
             (CAST(c.c_a AS DOUBLE) / t.n_a
              - CAST(c.c_e AS DOUBLE) / t.n_e)
             * (ln(CAST(c.c_a * t.n_e AS DOUBLE))
                - ln(CAST(c.c_e * t.n_a AS DOUBLE)))
             ELSE 0.0 END * 1000000) AS BIGINT) AS psi_term_micro
    FROM cells c CROSS JOIN tot t
    ORDER BY bucket
"""


@query("q_ml_psi", oracle=_PSI_ORACLE)
def q_ml_psi(spark, d):
    """Population stability index per price bucket (module comment):
    one scan collapses to the 10-cell bucket×window grid; totals are
    a 1-row broadcast; every ln argument is an exact integer product.
    The per-bucket terms are the declared output (their sum is the
    PSI) so the driver hashes the whole drift profile."""
    orders = load(spark, d, "orders")
    cells = (
        orders.selectExpr(
            f"cast(floor(o_totalprice / {_PSI_BUCKET}) as bigint) AS b",
            f"case when o_orderdate < date '{_PSI_SPLIT}'"
            " then 1 else 0 end AS is_expected",
        )
        .groupBy("b")
        .agg(
            F.sum("is_expected").alias("c_e"),
            F.sum(F.expr("1 - is_expected")).alias("c_a"),
        )
    )
    tot = cells.agg(
        F.sum("c_e").alias("n_e"), F.sum("c_a").alias("n_a")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .selectExpr(
            "b AS bucket",
            "c_e AS n_expected",
            "c_a AS n_actual",
            "cast(floor(case when c_e > 0 and c_a > 0 then"
            " (cast(c_a as double) / n_a - cast(c_e as double) / n_e)"
            " * (ln(cast(c_a * n_e as double))"
            "    - ln(cast(c_e * n_a as double)))"
            " else 0.0d end * 1000000) as bigint) AS psi_term_micro",
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Rich-club coefficient over the near-dup graph
# --------------------------------------------------------------------------
#
# Do high-degree documents preferentially connect to each other?
# φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k = nodes with degree > k and
# E_k = edges with BOTH endpoints of degree > k — the hub-cohesion
# view next to q_graph_assortativity's single correlation number
# (rich-club rising with k while assortativity is flat is the
# classic hub-clique signature). Fixed k grid {1,2,3,5,8}; per-edge
# membership in every k level folds into ONE conditional-sum agg
# (no per-k rescan), node counts likewise.

_RC_KS = (1, 2, 3, 5, 8)


def _rich_club_oracle() -> str:
    e_sums = ", ".join(
        f"CAST(SUM(CASE WHEN least(da, db) > {k} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS e{k}"
        for k in _RC_KS
    )
    n_sums = ", ".join(
        f"CAST(SUM(CASE WHEN dg > {k} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n{k}"
        for k in _RC_KS
    )
    rows = " UNION ALL ".join(
        f"""SELECT CAST({k} AS BIGINT) AS k, n.n{k} AS n_nodes, e.e{k} AS n_edges,
               CAST(2 * e.e{k} * 1000000
                    // NULLIF(n.n{k} * (n.n{k} - 1), 0) AS BIGINT)
                   AS phi_ppm
            FROM en e CROSS JOIN nn n"""
        for k in _RC_KS
    )
    return f"""
        WITH {NEAR_DUP_DEG_CTES},
        ed AS (
          SELECT e.doc_a, e.doc_b, a.dg AS da, b.dg AS db
          FROM edges0 e
          JOIN deg a ON a.doc_id = e.doc_a
          JOIN deg b ON b.doc_id = e.doc_b
        ),
        en AS (SELECT {e_sums} FROM ed),
        nn AS (SELECT {n_sums} FROM deg)
        SELECT * FROM ({rows}) ORDER BY k
    """


# ROUND-safe: the only ROUND is the driver-PROVEN q_dedup_ngram edge
# predicate (pass r4) in NEAR_DUP_EDGES_CTES, shared by the whole
# near-dup graph family.
@query("q_graph_rich_club", oracle=_rich_club_oracle())
def q_graph_rich_club(spark, d):
    """Rich-club coefficients φ(k) over the memoized near-dup edge
    snapshot (module comment): one degree agg, one doc-keyed
    edge-degree join, ONE conditional-sum agg covering all five k
    levels, integer ppm ratios. The k-grid expansion is a stack over
    two 1-row aggregates (Lloyd-shape broadcast)."""
    e = near_dup_edges(spark, d).select("doc_a", "doc_b")
    degs = degrees(e, "doc_a", "doc_b")
    ed = (
        e.join(
            degs.selectExpr("doc_id AS doc_a", "dg AS da"), "doc_a"
        ).join(degs.selectExpr("doc_id AS doc_b", "dg AS db"), "doc_b")
    )
    en = ed.agg(
        *[
            F.sum(
                F.when(F.least("da", "db") > k, 1).otherwise(0)
            )
            .cast("long")
            .alias(f"e{k}")
            for k in _RC_KS
        ]
    )
    nn = degs.agg(
        *[
            F.sum(F.when(F.col("dg") > k, 1).otherwise(0))
            .cast("long")
            .alias(f"n{k}")
            for k in _RC_KS
        ]
    )
    stack_args = ", ".join(
        f"{k}L, n{k}, e{k},"
        f" 2 * e{k} * 1000000L div nullif(n{k} * (n{k} - 1L), 0)"
        for k in _RC_KS
    )
    return (
        en.crossJoin(F.broadcast(nn))
        .selectExpr(
            f"stack({len(_RC_KS)}, {stack_args})"
            " AS (k, n_nodes, n_edges, phi_ppm)"
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# SimHash banded-candidate Hamming histogram (threshold tuning)
# --------------------------------------------------------------------------
#
# The index-quality eval behind q_dedup_simhash's Hamming ≤ 6 cut:
# the full Hamming-distance histogram of the pairs the 7-byte
# banding actually surfaces. Reading the histogram tells you (a) how
# much verify work each threshold buys (cumulative candidate volume)
# and (b) where the true-dup mass ends — the tuning curve for
# SIMHASH_HAMMING. Both engines enumerate the SAME candidate set
# (∃ equal byte-band), so banding recall loss above the pigeonhole
# bound (Hamming ≥ 7 pairs may or may not collide) is part of the
# declared semantics, not a hash risk.

_SIMHASH_HIST_ORACLE = f"""
    WITH {SIMHASH_SIG_CTES},
    cand AS (
      SELECT bit_count(xor(a.sig, b.sig)) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE ((a.sig >> 0) & 255) = ((b.sig >> 0) & 255)
         OR ((a.sig >> 8) & 255) = ((b.sig >> 8) & 255)
         OR ((a.sig >> 16) & 255) = ((b.sig >> 16) & 255)
         OR ((a.sig >> 24) & 255) = ((b.sig >> 24) & 255)
         OR ((a.sig >> 32) & 255) = ((b.sig >> 32) & 255)
         OR ((a.sig >> 40) & 255) = ((b.sig >> 40) & 255)
         OR ((a.sig >> 48) & 255) = ((b.sig >> 48) & 255)
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM cand GROUP BY hamming ORDER BY hamming
"""


@query("q_dedup_simhash_hist", oracle=_SIMHASH_HIST_ORACLE)
def q_dedup_simhash_hist(spark, d):
    """Hamming histogram of SimHash band candidates (module comment):
    the same 56-bit signatures and 7-byte banding as q_dedup_simhash
    (one wide majority agg, byte-keyed candidate join, distinct
    pairs), WITHOUT the ≤ 6 cut — then one bounded histogram agg.
    The oracle enumerates the identical candidate set via the
    ∃-equal-byte predicate over the O(n²) signature pairs (the
    semantic spec the banding equals by construction)."""
    return (
        simhash_candidates(spark, d)
        .select(
            F.expr("bit_count(sig_a ^ sig_b)").cast("long").alias(
                "hamming"
            )
        )
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )
