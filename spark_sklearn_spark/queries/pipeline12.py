"""Round-8 continuation batch: distribution DQ auditing, behavioral
pathing, and robust time-series statistics.

New keys (SURVEY.md §2B):
- q_dq_benford         — Benford first-digit conformance audit
- q_behavior_pathing   — top conversion paths (3-step event sequences)
- q_ts_rolling_median  — exact rolling median over the daily grain
- q_ts_holt            — Holt level+trend smoothing, unrolled
- q_ts_theilsen        — Theil–Sen robust slope (median of pair slopes)
- q_ml_knn_classify    — k-NN majority-vote classifier (Hamming tier)
- q_ml_als_round       — one rank-1 ALS round (recommender member)
- q_text_bpe_merge     — BPE training step 1: fuse argmax pair, recount

All declared. Portability posture per CLAUDE.md r8 policy: no raw
ROUND()ed doubles leave any query — outputs are BIGINT micro/ppm
quantities (floor(x*1e6), a*1000000 div b), first digits come from
exact integer cents (never log10 of a double), and every DuckDB
SUM(integer) is cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from .behavior import DAY_IDX_SQL, day_idx

# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------
#
# The classic DQ/fraud screen: first significant digits of a naturally
# occurring amount column should follow P(d) = log10(1 + 1/d). The
# first digit is extracted from EXACT integer cents (floor(price*100)
# is one IEEE multiply + floor, identical on both engines, then a
# digit-string head) — never via log10/pow of a double, whose
# boundary behavior differs per libm. The expected-share ln is the
# one libm touch; its operand (d+1.0)/d is a bit-identical double on
# both engines and the result is floor-quantized (the q_text_pmi /
# q_dq_schema_drift single-ln precedent). Chi-square terms quantize
# to DECIMAL(30,10) BEFORE the window sum, so aggregation order
# cannot move the statistic. Everything after the one orders scan is
# a 9-row relation.

_BENFORD_ORACLE = """
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100.0) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
      FROM cents
    ),
    obs AS (
      SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM digits GROUP BY first_digit
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    scored AS (
      SELECT o.first_digit, o.n_obs,
             ln((o.first_digit + 1.0) / o.first_digit) / ln(10.0)
                 AS share,
             t.n
      FROM obs o CROSS JOIN tot t
    ),
    terms AS (
      SELECT first_digit, n_obs,
             CAST(floor(share * 1000000.0) AS BIGINT) AS benford_ppm,
             (n_obs * 1000000) // n AS obs_ppm,
             CAST(CAST(
               (n_obs - n * share) * (n_obs - n * share) / (n * share)
               AS DECIMAL(30,10)) AS DOUBLE) AS term
      FROM scored
    )
    SELECT first_digit, n_obs, benford_ppm, obs_ppm,
           CAST(floor(term * 1000000.0) AS BIGINT) AS term_micro
    FROM terms
    ORDER BY first_digit
"""


@query("q_dq_benford", oracle=_BENFORD_ORACLE)
def q_dq_benford(spark, d):
    """Benford's-law first-digit audit of order amounts (module
    comment for the portability argument). ONE scan → exact integer
    cents → digit-string head → 9-key hash agg; the expected-share
    and chi-square arithmetic runs on the bounded 9-row relation, so
    the 100 TB cost is the scan plus a constant-size shuffle."""
    orders = load(spark, d, "orders").filter(F.col("o_totalprice") > 0)
    digits = orders.select(
        F.expr(
            "cast(substr(cast(cast(floor(o_totalprice * 100.0d) as bigint)"
            " as string), 1, 1) as bigint)"
        ).alias("first_digit")
    )
    obs = digits.groupBy("first_digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    scored = obs.crossJoin(F.broadcast(tot)).selectExpr(
        "first_digit",
        "n_obs",
        "ln((first_digit + 1.0d) / first_digit) / ln(10.0d) AS share",
        "n",
    )
    return (
        scored.selectExpr(
            "first_digit",
            "n_obs",
            "cast(floor(share * 1000000.0d) as bigint) AS benford_ppm",
            "(n_obs * 1000000L) div n AS obs_ppm",
            "cast(cast((n_obs - n * share) * (n_obs - n * share)"
            " / (n * share) as decimal(30,10)) as double) AS term",
        )
        .selectExpr(
            "first_digit",
            "n_obs",
            "benford_ppm",
            "obs_ppm",
            "cast(floor(term * 1000000.0d) as bigint) AS term_micro",
        )
        .orderBy("first_digit")
    )


# --------------------------------------------------------------------------
# Conversion pathing
# --------------------------------------------------------------------------
#
# "Which 3-step event sequences end in a purchase?" — the product-
# analytics path query (Amplitude/GA 'top conversion paths'). Each
# purchase is labeled with its two predecessors via TWO lag()s in one
# user-partitioned window (single shuffle, the q_behavior_transitions
# machinery one step deeper), then paths aggregate over a key space
# bounded by |event_types|^3. Top-10 with a full deterministic
# tie-break (count desc, path asc) so LIMIT agrees across engines.

_PATHING_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS prev1,
             lag(event_type, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT prev2 || '>' || prev1 || '>' || event_type AS path,
             user_id
      FROM seq
      WHERE event_type = 'purchase'
        AND prev1 IS NOT NULL AND prev2 IS NOT NULL
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_conversions DESC, path
    LIMIT 10
"""


@query("q_behavior_pathing", oracle=_PATHING_ORACLE)
def q_behavior_pathing(spark, d):
    """Top-10 three-step conversion paths ending in purchase (module
    comment). One user_id window shuffle carries both lags; the path
    aggregate's key space is |event_types|^3 — constant-size — and
    the top-10 is TakeOrderedAndProject. At 100 TB this is one
    shuffle of the events relation and nothing else."""
    ev = load(spark, d, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.expr(
            "lag(event_type, 1) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id)"
        ).alias("prev1"),
        F.expr(
            "lag(event_type, 2) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id)"
        ).alias("prev2"),
    )
    paths = seq.filter(
        (F.col("event_type") == "purchase")
        & F.col("prev1").isNotNull()
        & F.col("prev2").isNotNull()
    ).select(
        F.concat_ws(">", "prev2", "prev1", "event_type").alias("path"),
        "user_id",
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_conversions"), "path")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Rolling median (exact, windowed percentile)
# --------------------------------------------------------------------------
#
# The robust twin of the 7-day moving average (q_win_pct_change):
# median over a trailing 7-row frame of the per-day revenue series.
# Inputs to the median are bit-identical doubles on both engines
# (decimal-path daily sums), and the median itself is a selection —
# or the average of two exact middles — so Spark percentile(0.5) and
# DuckDB quantile_cont(0.5) agree exactly; outputs still leave
# micro-quantized per policy. The window runs on the calendar-grain
# relation (days × event_types), never on raw events.

_ROLLMED_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS rev
      FROM events
      GROUP BY event_type, day
    )
    SELECT event_type, day,
           CAST(floor(rev * 1000000.0) AS BIGINT) AS rev_micro,
           CAST(floor(quantile_cont(rev, 0.5) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
             ) * 1000000.0) AS BIGINT) AS med7_micro
    FROM daily
    ORDER BY event_type, day
"""


@query("q_ts_rolling_median", oracle=_ROLLMED_ORACLE)
def q_ts_rolling_median(spark, d):
    """Trailing 7-day rolling EXACT median of daily revenue per event
    type (module comment for the exactness argument). One hash agg
    collapses events to the calendar grain; the ordered window then
    runs on the bounded daily relation partitioned by event type —
    no single-partition global window, no raw-event sort. The frame
    re-buffers at most 7 values per row, so the window cost is
    O(days log 7) per type regardless of corpus size."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("rev")
    )
    return daily.selectExpr(
        "event_type",
        "day",
        "cast(floor(rev * 1000000.0d) as bigint) AS rev_micro",
        "cast(floor(percentile(rev, 0.5d) OVER ("
        " PARTITION BY event_type ORDER BY day"
        " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW"
        ") * 1000000.0d) as bigint) AS med7_micro",
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential), unrolled
# --------------------------------------------------------------------------
#
# The level+trend sibling of q_ts_ewma: l_t = a*y_t + (1-a)*(l+b),
# b_t = g*(l_t - l_prev) + (1-g)*b, a = g = 0.5 (exact binary
# doubles). The recurrence unrolls over the FIRST 8 days of each
# event type's daily series as staged CTEs whose scalar expressions
# are typed identically on both engines — each step is a fixed
# sequence of IEEE ops on bit-identical operands, so the whole chain
# is deterministic with NO decimal detour (the q_ts_ewma /
# q_ml_logreg weight-update precedent). Outputs leave micro-floored.

_HOLT_STEPS = 8


def _holt_chain(src: str, idx) -> str:
    """Step CTE chain (l1=y1, b1=y2-y1). The scalar recurrence text is
    identical on both engines; only the 1-based list access differs
    (DuckDB ``y[t]`` vs Spark ``element_at(y, t)``), injected via
    ``idx``."""
    steps = [f"s1 AS (SELECT event_type, y, y1 AS l, (y2 - y1) AS b,"
             f" y1 AS l_prev FROM {src})"]
    for t in range(2, _HOLT_STEPS + 1):
        yt = idx(t)
        steps.append(
            f"s{t} AS (SELECT event_type, y,"
            f" 0.5 * {yt} + 0.5 * (l + b) AS l,"
            f" 0.5 * ((0.5 * {yt} + 0.5 * (l + b)) - l) + 0.5 * b AS b,"
            f" l AS l_prev FROM s{t - 1})"
        )
    return ",\n    ".join(steps)


_HOLT_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS rev
      FROM events
      GROUP BY event_type, day
    ),
    ranked AS (
      SELECT event_type, rev,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                 AS rn
      FROM daily
    ),
    wide AS (
      SELECT event_type,
             list(rev ORDER BY rn) AS y,
             MAX(CASE WHEN rn = 1 THEN rev END) AS y1,
             MAX(CASE WHEN rn = 2 THEN rev END) AS y2
      FROM ranked WHERE rn <= {_HOLT_STEPS}
      GROUP BY event_type
      HAVING COUNT(*) >= {_HOLT_STEPS}
    ),
    {_holt_chain("wide", lambda t: f"y[{t}]")}
    SELECT event_type,
           CAST(floor(l * 1000000.0) AS BIGINT) AS level_micro,
           CAST(floor(b * 1000000.0) AS BIGINT) AS trend_micro,
           CAST(floor((l + b) * 1000000.0) AS BIGINT) AS forecast_micro
    FROM s{_HOLT_STEPS}
    ORDER BY event_type
"""


@query("q_ts_holt", oracle=_HOLT_ORACLE)
def q_ts_holt(spark, d):
    """Holt double-exponential (level+trend) smoothing over the first
    8 days of each event type's daily revenue, unrolled (module
    comment for the float-determinism argument). The corpus collapses
    to the calendar grain in one hash agg; the ordered-array pivot
    and the 8-step chain run on the |event_types|-row relation, so
    everything past the scan is metadata-sized. The 1-step-ahead
    forecast l+b is the operational output (capacity planning)."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("rev")
    )
    ranked = daily.select(
        "event_type",
        "rev",
        F.expr(
            "row_number() OVER (PARTITION BY event_type ORDER BY day)"
        ).alias("rn"),
    ).filter(F.col("rn") <= _HOLT_STEPS)
    wide = (
        ranked.groupBy("event_type")
        .agg(
            F.expr("array_sort(collect_list(struct(rn, rev)))").alias("p"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") >= _HOLT_STEPS)
        .selectExpr(
            "event_type",
            "transform(p, x -> x.rev) AS y",
            "p[0].rev AS y1",
            "p[1].rev AS y2",
        )
    )
    wide.createOrReplaceTempView("holt_wide")
    chain = _holt_chain("holt_wide", lambda t: f"element_at(y, {t})")
    return spark.sql(f"""
        WITH {chain}
        SELECT event_type,
               cast(floor(l * 1000000.0d) as bigint) AS level_micro,
               cast(floor(b * 1000000.0d) as bigint) AS trend_micro,
               cast(floor((l + b) * 1000000.0d) as bigint)
                   AS forecast_micro
        FROM s{_HOLT_STEPS}
        ORDER BY event_type
    """)


# --------------------------------------------------------------------------
# Theil–Sen robust slope
# --------------------------------------------------------------------------
#
# Median-of-pairwise-slopes trend estimator — outlier-robust where
# OLS (q_ml_linear_ols) is not. The pair fan-out is over the DAILY
# grain (calendar-bounded: C(days,2) pairs per event type, a few
# hundred rows), never raw events. Slopes divide bit-identical
# doubles by integer day gaps; the median is exact selection /
# two-middle interpolation on identical operands (the rolling-median
# argument); outputs leave micro-floored.

_THEILSEN_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             {DAY_IDX_SQL} AS d,
             CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS rev
      FROM events
      GROUP BY event_type, d
    ),
    pairs AS (
      SELECT a.event_type,
             (b.rev - a.rev) / (b.d - a.d) AS slope
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type AND b.d > a.d
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(floor(quantile_cont(slope, 0.5) * 1000000.0) AS BIGINT)
               AS sen_slope_micro
    FROM pairs
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q_ts_theilsen", oracle=_THEILSEN_ORACLE)
def q_ts_theilsen(spark, d):
    """Theil–Sen robust trend slope of daily revenue per event type
    (module comment for the boundedness argument). One hash agg to
    the calendar grain, a self equi-join on event_type over the tiny
    daily relation (the pair blowup is calendar-bounded, not
    corpus-bounded), one exact percentile per type. At 100 TB the
    cost is the scan; the robust estimator itself is metadata-sized."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        "event_type",
        day_idx().alias("dday"),
    ).agg(
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("rev")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.dday") > F.col("a.dday")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.rev") - F.col("a.rev"))
            / (F.col("b.dday") - F.col("a.dday"))
        ).alias("slope"),
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(
                "cast(floor(percentile(slope, 0.5d) * 1000000.0d)"
                " as bigint)"
            ).alias("sen_slope_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# k-NN majority-vote classifier over Hamming signatures
# --------------------------------------------------------------------------
#
# The classifier twin of q_ml_label_noise_knn: predict each probe's
# label by majority vote of its 5 nearest neighbors under exact
# Hamming distance on the shared sign-binarized 64-bit signatures
# (pipeline7.hamming_sig). Probe panel = every 97th vector — a FIXED
# fraction that broadcasts, so panel x corpus stays linear (the
# full-probe quadratic emission was probed and rejected for
# label_noise; same discipline here). Votes, the argmax (ties to the
# smaller label), and accuracy are all integers.

_KNN_CLS_TOPK = 5

_KNN_CLS_ORACLE = """
    WITH {HAM_SIG},
    labeled AS (
      SELECT s.vec_id, s.lo, s.hi, CAST(e.label AS BIGINT) AS label
      FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id
    ),
    probes AS (SELECT * FROM labeled WHERE vec_id % 97 = 0),
    corpus AS (SELECT * FROM labeled WHERE vec_id % 97 <> 0),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS true_label,
             c.label AS nbr_label,
             bit_count(xor(p.lo, c.lo)) + bit_count(xor(p.hi, c.hi))
                 AS hamming,
             c.vec_id AS nbr_id
      FROM probes p JOIN corpus c ON true
    ),
    ranked AS (
      SELECT probe_id, true_label, nbr_label,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY hamming, nbr_id) AS rnk
      FROM scored
    ),
    votes AS (
      SELECT probe_id, true_label, nbr_label,
             CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM ranked WHERE rnk <= {TOPK}
      GROUP BY probe_id, true_label, nbr_label
    ),
    pred AS (
      SELECT probe_id, true_label, nbr_label AS pred_label,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY n_votes DESC, nbr_label) AS pr
      FROM votes
    )
    SELECT true_label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN pred_label = true_label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           (CAST(SUM(CASE WHEN pred_label = true_label
                          THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
               // CAST(COUNT(*) AS BIGINT) AS acc_ppm
    FROM pred WHERE pr = 1
    GROUP BY true_label
    ORDER BY true_label
"""


def _knn_cls_oracle() -> str:
    from .pipeline7 import HAM_SIG_SQL

    return _KNN_CLS_ORACLE.replace("{HAM_SIG}", HAM_SIG_SQL).replace(
        "{TOPK}", str(_KNN_CLS_TOPK)
    )


@query("q_ml_knn_classify", oracle=_knn_cls_oracle())
def q_ml_knn_classify(spark, d):
    """k-NN majority-vote classification accuracy per label over the
    binary-signature tier (module comment for the linearity
    argument). The probe panel (1/97th of vectors) broadcasts into
    one corpus pass; distances are two XOR+popcount codegen ops; the
    vote, argmax, and accuracy stages run on panel-sized relations.
    Ties break to the smaller label on both engines."""
    from .pipeline7 import hamming_sig

    emb = load(spark, d, "embeddings")
    sig = hamming_sig(emb).join(
        emb.select("vec_id", F.col("label").cast("long").alias("label")),
        "vec_id",
    )
    probes = sig.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
        F.col("label").alias("true_label"),
    )
    corpus = sig.filter(F.col("vec_id") % 97 != 0)
    scored = F.broadcast(probes).crossJoin(corpus).select(
        "probe_id",
        "true_label",
        F.col("label").alias("nbr_label"),
        (
            F.bit_count(F.col("p_lo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("p_hi").bitwiseXOR(F.col("hi")))
        ).alias("hamming"),
        F.col("vec_id").alias("nbr_id"),
    )
    ranked = scored.select(
        "probe_id",
        "true_label",
        "nbr_label",
        F.expr(
            "row_number() OVER (PARTITION BY probe_id"
            " ORDER BY hamming, nbr_id)"
        ).alias("rnk"),
    ).filter(F.col("rnk") <= _KNN_CLS_TOPK)
    votes = ranked.groupBy("probe_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    pred = votes.select(
        "probe_id",
        "true_label",
        F.col("nbr_label").alias("pred_label"),
        F.expr(
            "row_number() OVER (PARTITION BY probe_id"
            " ORDER BY n_votes DESC, nbr_label)"
        ).alias("pr"),
    ).filter(F.col("pr") == 1)
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1)
                .otherwise(0)
            ).alias("n_correct"),
        )
        .selectExpr(
            "true_label",
            "n_probes",
            "n_correct",
            "(n_correct * 1000000L) div n_probes AS acc_ppm",
        )
        .orderBy("true_label")
    )


# --------------------------------------------------------------------------
# One ALS round (implicit-feedback matrix factorization, rank 1)
# --------------------------------------------------------------------------
#
# The recommender-system member of the hash-verified model set: one
# alternating-least-squares round on the user x event_type implicit
# matrix (r_ui = interaction count). Item factors initialize from the
# portable 56-bit hash (engine-identical); the user solve and the
# item re-solve are closed-form rank-1 ridge steps whose moment sums
# ride the decimal path, so every factor is a bit-identical double on
# both engines before the final micro floor. Both solves are plain
# hash aggs keyed by user / item — the distributed ALS step IS two
# shuffles, which is exactly what a 1000-executor ALS does per
# half-round.

_ALS_LAMBDA = "0.1"

_ALS_ORACLE = f"""
    WITH r AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    with_f0 AS (
      SELECT user_id, event_type, cnt,
             1.0 + (('0x' || substr(md5(event_type), 1, 14))::BIGINT
                    % 1000) / 1000.0 AS f0
      FROM r
    ),
    users AS (
      SELECT user_id,
             CAST(SUM(CAST(cnt * f0 AS DECIMAL(30,10))) AS DOUBLE)
               / ({_ALS_LAMBDA}
                  + CAST(SUM(CAST(f0 * f0 AS DECIMAL(30,10)))
                         AS DOUBLE)) AS u
      FROM with_f0 GROUP BY user_id
    ),
    items AS (
      SELECT w.event_type,
             CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users,
             CAST(SUM(w.cnt) AS BIGINT) AS n_inter,
             MAX(w.f0) AS f0,
             CAST(SUM(CAST(w.cnt * us.u AS DECIMAL(30,10))) AS DOUBLE)
               / ({_ALS_LAMBDA}
                  + CAST(SUM(CAST(us.u * us.u AS DECIMAL(30,10)))
                         AS DOUBLE)) AS f1
      FROM with_f0 w JOIN users us ON us.user_id = w.user_id
      GROUP BY w.event_type
    )
    SELECT event_type, n_users, n_inter,
           CAST(floor(f0 * 1000000.0) AS BIGINT) AS f0_micro,
           CAST(floor(f1 * 1000000.0) AS BIGINT) AS f1_micro
    FROM items
    ORDER BY event_type
"""


@query("q_ml_als_round", oracle=_ALS_ORACLE)
def q_ml_als_round(spark, d):
    """One rank-1 ALS round over the user x event_type implicit
    matrix (module comment for the mirroring argument). Count agg →
    stateless hash-init factors → user-keyed solve agg → item-keyed
    re-solve agg: two shuffles total, both on natural keys, no
    iteration state on the driver. The output is the item-factor
    table — the thing a retrieval stage would broadcast."""
    ev = load(spark, d, "events")
    r = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    with_f0 = r.withColumn(
        "f0",
        F.expr(
            "1.0d + (cast(conv(substr(md5(event_type), 1, 14), 16, 10)"
            " as bigint) % 1000) / 1000.0d"
        ),
    )
    lam = _ALS_LAMBDA
    users = with_f0.groupBy("user_id").agg(
        F.expr(
            "cast(sum(cast(cnt * f0 as decimal(30,10))) as double)"
            f" / ({lam} + cast(sum(cast(f0 * f0 as decimal(30,10)))"
            " as double))"
        ).alias("u")
    )
    items = (
        with_f0.join(users, "user_id")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cnt").alias("n_inter"),
            F.max("f0").alias("f0"),
            F.expr(
                "cast(sum(cast(cnt * u as decimal(30,10))) as double)"
                f" / ({lam} + cast(sum(cast(u * u as decimal(30,10)))"
                " as double))"
            ).alias("f1"),
        )
    )
    return items.selectExpr(
        "event_type",
        "n_users",
        "n_inter",
        "cast(floor(f0 * 1000000.0d) as bigint) AS f0_micro",
        "cast(floor(f1 * 1000000.0d) as bigint) AS f1_micro",
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# One BPE merge round (apply the argmax pair, recount)
# --------------------------------------------------------------------------
#
# q_text_bpe_pairs is BPE training step 0 (count adjacent pairs);
# this is step 1: pick the most frequent pair (ties to the
# lexicographically smaller — deterministic on both engines), FUSE it
# everywhere with greedy left-to-right semantics, and recount pairs
# over the merged token streams. The fuse rides each engine's
# replace(), which scans left-to-right without overlap — exactly
# BPE's greedy merge order ("aaa" + merge(a,a) -> [aa, a]). Words
# become space-joined char streams once (regexp insert, codegen);
# the merge is ONE string replace per word; recounting is the same
# constant-key-space hash agg as step 0. 100 TB shape: two corpus
# scans (count, merge+recount) with constant-size shuffles; the
# 1-row argmax broadcasts.

_BPE_MERGE_ORACLE = """
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pairs0 AS (
      SELECT substr(w, i, 2) AS pair
      FROM words,
           LATERAL (SELECT unnest(generate_series(1, length(w) - 1))
                    AS i)
      WHERE length(w) >= 2
    ),
    top1 AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt0
      FROM pairs0 GROUP BY pair
      ORDER BY cnt0 DESC, pair LIMIT 1
    ),
    spaced AS (
      SELECT ' ' || rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '
                 AS s
      FROM words WHERE length(w) >= 2
    ),
    merged AS (
      -- pattern has NO boundary spaces: the spaced stream strictly
      -- alternates char/space, so 'x y' can only be a token-adjacent
      -- pair, and adjacent merge sites ("x y x y") stay disjoint —
      -- with boundary spaces the shared separator would break the
      -- second match and under-merge
      SELECT string_split(trim(replace(
               s,
               substr(t.pair, 1, 1) || ' ' || substr(t.pair, 2, 1),
               t.pair)), ' ') AS toks
      FROM spaced CROSS JOIN top1 t
    ),
    pairs1 AS (
      SELECT toks[i] || '+' || toks[i + 1] AS tokpair
      FROM merged,
           LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
                    AS i)
      WHERE len(toks) >= 2
    ),
    counted AS (
      SELECT tokpair, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pairs1 GROUP BY tokpair
    )
    SELECT t.pair AS merge_pair, t.cnt0 AS merge_cnt,
           c.tokpair, c.cnt
    FROM counted c CROSS JOIN top1 t
    ORDER BY c.cnt DESC, c.tokpair
    LIMIT 20
"""


@query("q_text_bpe_merge", oracle=_BPE_MERGE_ORACLE)
def q_text_bpe_merge(spark, d):
    """One BPE merge round: argmax pair -> greedy fuse -> recount
    (module comment for the replace() greedy-semantics argument).
    Output is the post-merge top-20 pair table tagged with the merge
    that produced it — training step 1's exact state."""
    docs = load(spark, d, "documents")
    # r17: every per-word computation here (pair explode, the spaced
    # regexp, the merge replace, the recount explode) is a pure
    # function of the word STRING — so collapse occurrences to
    # DISTINCT words with a multiplicity first and weight every count
    # by it. Identical totals (Σ per-word counts), with the heavy
    # string work running once per distinct word instead of once per
    # occurrence (zipf: ~30× fewer rows), and the word count agg is
    # map-side combinable.
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))
    pairs0 = wc.select(
        "wn",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substr(w, i, 2))"
            )
        ).alias("pair"),
    )
    top1 = (
        pairs0.groupBy("pair")
        .agg(F.sum("wn").alias("cnt0"))
        .orderBy(F.desc("cnt0"), "pair")
        .limit(1)
    )
    spaced = wc.select(
        "wn",
        F.expr(
            "' ' || rtrim(regexp_replace(w, '(.)', '$1 ')) || ' '"
        ).alias("s"),
    )
    merged = spaced.crossJoin(F.broadcast(top1)).select(
        F.expr(
            "split(trim(replace(s,"
            " substr(pair, 1, 1) || ' ' || substr(pair, 2, 1),"
            " pair)), ' ')"
        ).alias("toks"),
        "pair",
        "cnt0",
        "wn",
    )
    pairs1 = merged.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> element_at(toks, i) || '+'"
                " || element_at(toks, i + 1))"
            )
        ).alias("tokpair"),
        "pair",
        "cnt0",
        "wn",
    )
    return (
        pairs1.groupBy("pair", "cnt0", "tokpair")
        .agg(F.sum("wn").alias("cnt"))
        .selectExpr(
            "pair AS merge_pair", "cnt0 AS merge_cnt", "tokpair", "cnt"
        )
        .orderBy(F.desc("cnt"), "tokpair")
        .limit(20)
    )
