"""Behavioral / time-series analytics over the events table: ordered
funnels, cohort retention, and calendar gap-fill with forward-fill.

These are the product-analytics operators (Amplitude/Mixpanel-class)
a reference user runs on event streams; none of them is a plain
groupBy, but all three decompose into shuffle-lean DataFrame plans.

Scale notes: the funnel is three per-user min-aggregations chained by
equi-joins on user_id — every shuffle is keyed on user_id, no
broadcast of user-cardinality relations (a user dimension grows with
the data; broadcasting it is the scale hazard the dedup-clusters fix
removed). Retention is one agg to find cohorts + one equi-join +
one distinct-agg. Gap-fill generates each user's calendar span with
sequence() (rows ~ users x days, independent of event skew) and
forward-fills with a user-partitioned running last() — no
single-partition window anywhere.

Shared stages, each one text or one builder for both engines:
``transitions`` / ``TRANSITIONS_CTES`` (seq, trans), the per-user
next-event-type counts of the behavior chain keys;
``DAILY_COUNTS_CTE`` (daily), the events per calendar day of the
daily time-series keys that run one SQL text on both engines;
``day_idx`` / ``DAY_IDX_SQL``, the integer day of an event (days
since 1970-01-01 in the UTC session), the one integer day key of the
time-series and behavior keys;
``day_counts`` / ``DAY_COUNTS_CTE`` and ``TYPE_DAY_COUNTS_CTE``
(daily), the events per day index overall and per event type; and
``day_revenue`` / ``DAY_REVENUE_CTE`` and ``TYPE_DAY_REVENUE_CTE``
(daily), the exact revenue micro-units per calendar day overall and
per event type.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import DEC

# (event_type, nxt, c): how often each event type is followed by nxt
# in a user's (ts, event_id)-ordered stream. One user-partitioned
# lead() window, then a combinable agg onto the |event_types|^2 key
# space.
TRANSITIONS_CTES = """
        seq AS (
          SELECT event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nxt
          FROM events
        ),
        trans AS (
          SELECT event_type, nxt, CAST(COUNT(*) AS BIGINT) AS c
          FROM seq WHERE nxt IS NOT NULL
          GROUP BY event_type, nxt
        )"""


def transitions(spark, d):
    """TRANSITIONS_CTES's Spark side (the trans relation)."""
    seq = load(spark, d, "events").select(
        "event_type",
        F.expr(
            "lead(event_type) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id)"
        ).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return seq.groupBy("event_type", "nxt").agg(
        F.count(F.lit(1)).alias("c")
    )


# (day, y): events per calendar day; the same text runs on Spark
# (spark.sql) and DuckDB.
DAILY_COUNTS_CTE = """daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY CAST(date_trunc('day', ts) AS TIMESTAMP)
    )"""

# Days from 1970-01-01 to ts in the UTC session, as BIGINT.
DAY_IDX_SQL = "CAST(date_diff('day', DATE '1970-01-01', ts) AS BIGINT)"


def day_idx():
    """DAY_IDX_SQL's Spark side (a fresh Column per call: a module-level
    Column would need a live SparkContext at import time)."""
    return F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")


# (day_idx, n) / (event_type, day_idx, n): events per day index.
DAY_COUNTS_CTE = f"""daily AS (
      SELECT {DAY_IDX_SQL} AS day_idx, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY day_idx
    )"""

TYPE_DAY_COUNTS_CTE = f"""daily AS (
      SELECT event_type, {DAY_IDX_SQL} AS day_idx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day_idx
    )"""


def day_counts(spark, d, by=()):
    """DAY_COUNTS_CTE's Spark side, or TYPE_DAY_COUNTS_CTE's with
    by=("event_type",): (*by, day_idx, n)."""
    return (
        load(spark, d, "events")
        .groupBy(*by, day_idx().alias("day_idx"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# (day, rev_micro) / (event_type, day, rev_micro): revenue per calendar
# day, summed exactly in DECIMAL(30,10) and floored to micro-units.
_REV_MICRO_SQL = """CAST(floor(SUM(CAST(value AS DECIMAL(30,10))) * 1000000)
                  AS BIGINT) AS rev_micro"""

DAY_REVENUE_CTE = f"""daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             {_REV_MICRO_SQL}
      FROM events
      GROUP BY day
    )"""

TYPE_DAY_REVENUE_CTE = f"""daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             {_REV_MICRO_SQL}
      FROM events
      GROUP BY event_type, day
    )"""


def day_revenue(spark, d, by=()):
    """DAY_REVENUE_CTE's Spark side, or TYPE_DAY_REVENUE_CTE's with
    by=("event_type",): (*by, day, rev_micro)."""
    return (
        load(spark, d, "events")
        .groupBy(*by, F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.floor(F.sum(F.col("value").cast(DEC)) * 1000000)
            .cast("long")
            .alias("rev_micro")
        )
    )


@query(
    "q_funnel_ordered",
    oracle="""
        WITH t1 AS (
            SELECT user_id, min(ts) AS ts1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        t2 AS (
            SELECT e.user_id, min(e.ts) AS ts2
            FROM events e JOIN t1 ON e.user_id = t1.user_id
            WHERE e.event_type = 'click' AND e.ts > t1.ts1
            GROUP BY e.user_id
        ),
        t3 AS (
            SELECT e.user_id, min(e.ts) AS ts3
            FROM events e JOIN t2 ON e.user_id = t2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
            GROUP BY e.user_id
        )
        SELECT stage, n_users FROM (
            SELECT 1 AS stage, CAST(count(*) AS BIGINT) AS n_users FROM t1
            UNION ALL
            SELECT 2, CAST(count(*) AS BIGINT) FROM t2
            UNION ALL
            SELECT 3, CAST(count(*) AS BIGINT) FROM t3
        ) ORDER BY stage
    """,
)
def q_funnel_ordered(spark, d):
    """Ordered conversion funnel view -> click -> purchase: a user
    counts at stage k only if the stage-k event happened strictly
    AFTER their stage-(k-1) entry time. Each stage is a per-user min
    aggregation gated by an equi-join on user_id to the previous
    stage — the sequential-pattern shape that plain conditional
    aggregation (min per type, unordered) gets wrong. Three
    user-keyed shuffles total; stage relations are user-cardinality,
    so they are joined, never broadcast."""
    ev = load(spark, d, "events")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("ts1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("ts2"))
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


@query(
    "q_retention_cohort",
    oracle="""
        WITH firstday AS (
            SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
            FROM events GROUP BY user_id
        )
        SELECT CAST(f.cohort AS TIMESTAMP) AS cohort_day,
               date_diff('day', f.cohort,
                         CAST(date_trunc('day', e.ts) AS DATE)) AS day_offset,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        FROM events e JOIN firstday f ON e.user_id = f.user_id
        GROUP BY 1, 2
        ORDER BY cohort_day, day_offset
    """,
)
def q_retention_cohort(spark, d):
    """Cohort retention triangle: users grouped by first-activity day,
    counted distinct on each subsequent day offset. One per-user min
    agg to assign cohorts, one equi-join on user_id (shuffle join —
    the cohort relation is user-cardinality), one distinct-count agg
    on (cohort, offset). The (cohort_day, day_offset) grid is at most
    days^2 rows regardless of event volume."""
    ev = load(spark, d, "events")
    firstday = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort")
    )
    return (
        ev.join(firstday, "user_id")
        .groupBy(
            F.col("cohort").cast("timestamp").alias("cohort_day"),
            F.datediff(F.to_date("ts"), F.col("cohort")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "q_ts_gapfill",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2)
                       AS day_value
            FROM events GROUP BY 1, 2
        ),
        span AS (
            SELECT user_id, min(day) AS mn, max(day) AS mx
            FROM daily GROUP BY user_id
        ),
        grid AS (
            SELECT user_id,
                   CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
                       AS day
            FROM span
        )
        SELECT g.user_id,
               CAST(g.day AS TIMESTAMP) AS day,
               last_value(d.day_value IGNORE NULLS)
                   OVER (PARTITION BY g.user_id ORDER BY g.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_value,
               d.day_value IS NULL AS is_gap
        FROM grid g
        LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
        ORDER BY g.user_id, g.day
    """,
)
def q_ts_gapfill(spark, d):
    """Calendar gap-fill + LOCF (last observation carried forward):
    each user's daily value series is densified to a full calendar
    between their first and last active day, and missing days take
    the previous day's value. The grid is a Generate over
    sequence(min_day, max_day) — rows ~ users x days, immune to
    event-count skew — and the fill is one user-partitioned running
    last(ignorenulls) window. Daily sums of doubles go through the
    decimal policy BEFORE the fill, so carried values are exact
    copies of already-agreed numbers on both engines."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 2
        ).alias("day_value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("day")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("timestamp").alias("day"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
            F.col("day_value").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "q_ts_rollup_multigrain",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2)
                   AS total_value
        FROM events
        GROUP BY GROUPING SETS (
            (date_trunc('day', ts), event_type),
            (date_trunc('day', ts), date_trunc('hour', ts), event_type))
        ORDER BY day, hr NULLS FIRST, event_type
    """,
)
def q_ts_rollup_multigrain(spark, d):
    """Multi-granularity time rollup (the hypertable continuous-
    aggregate shape): hourly AND daily grains of the same measures in
    ONE scan via GROUPING SETS — Catalyst expands each input row once
    per grain before a single partial+final hash agg, so adding a
    grain costs an Expand ratio, not another scan of a 100 TB fact.
    Day-grain rows carry NULL hr, exactly like a TimescaleDB rollup
    view."""
    from ..sources.io import register_views

    register_views(spark, d, tables=["events"])
    return spark.sql(
        """
        SELECT date_trunc('day', ts) AS day,
               date_trunc('hour', ts) AS hr,
               event_type,
               count(*) AS n,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2)
                   AS total_value
        FROM events
        GROUP BY GROUPING SETS (
            (date_trunc('day', ts), event_type),
            (date_trunc('day', ts), date_trunc('hour', ts), event_type))
        ORDER BY day, hr NULLS FIRST, event_type
        """
    )


@query(
    "q_behavior_transitions",
    oracle=f"""
        WITH {TRANSITIONS_CTES}
        SELECT event_type AS prev_type, nxt AS next_type,
               c AS n_transitions
        FROM trans
        ORDER BY prev_type, next_type
    """,
)
def q_behavior_transitions(spark, d):
    """Event-flow transition matrix (the Sankey / Markov-chain view of
    user behavior): counts of consecutive event-type pairs per user,
    read off the shared ``transitions`` stage. One shuffle on user_id
    for the lead window (total order inside a user via (ts, event_id)
    — deterministic under timestamp ties), then a combinable hash agg
    onto the tiny (prev, next) key space. The transition matrix is
    |event_types|² rows regardless of corpus size — 100 TB of events
    reduces to a 25-cell table."""
    return transitions(spark, d).select(
        F.col("event_type").alias("prev_type"),
        F.col("nxt").alias("next_type"),
        F.col("c").alias("n_transitions"),
    ).orderBy("prev_type", "next_type")


@query(
    "q_ts_interpolate",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(floor(CAST(SUM(CAST(value AS DECIMAL(30,10)))
                                   AS DOUBLE) * 100) AS BIGINT)
                       AS day_value
            FROM events GROUP BY 1, 2
        ),
        span AS (
            SELECT user_id, min(day) AS mn, max(day) AS mx
            FROM daily GROUP BY user_id
        ),
        grid AS (
            SELECT user_id,
                   CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
                       AS day
            FROM span
        ),
        j AS (
            SELECT g.user_id, g.day, d.day_value,
                   last_value(d.day_value IGNORE NULLS) OVER wp AS pv,
                   last_value(CASE WHEN d.day_value IS NOT NULL
                                   THEN g.day END IGNORE NULLS) OVER wp AS pd,
                   first_value(d.day_value IGNORE NULLS) OVER wn AS nv,
                   first_value(CASE WHEN d.day_value IS NOT NULL
                                    THEN g.day END IGNORE NULLS) OVER wn AS nd
            FROM grid g
            LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
            WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wn AS (PARTITION BY g.user_id ORDER BY g.day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, CAST(day AS TIMESTAMP) AS day,
               CAST(CASE WHEN nd = pd THEN pv * 10000
                         ELSE (pv * (datediff('day', pd, nd)
                                     - datediff('day', pd, day))
                               + nv * datediff('day', pd, day)) * 10000
                              // datediff('day', pd, nd) END
                    AS BIGINT) AS interp_micro,
               day_value IS NULL AS is_gap
        FROM j
        ORDER BY user_id, day
    """,
)
def q_ts_interpolate(spark, d):
    """Calendar densify + LINEAR interpolation — the lerp twin of
    q_ts_gapfill's LOCF: gap days take the value interpolated between
    the surrounding observed days, weighted by day distance. Same
    skew-immune grid (Generate over the per-user day span) plus TWO
    user-partitioned windows — a running last(ignorenulls) looking
    back and a first(ignorenulls) looking forward — i.e. one shuffle
    on user_id and two sorted passes, never a self-join on time. The
    daily inputs are quantized to integer CENTS before the lerp
    (decimal sum -> identical double -> floor(x*100)), so the lerp is
    pure integer arithmetic — (pv*(d2-d1) + nv*d1)*10000 div d2 —
    and the output is exact integer micro on both engines."""
    ev = load(spark, d, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
            * 100
        ).alias("day_value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("day")
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    j = grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "day_value",
        F.last("day_value", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("day_value", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("nd"),
    )
    lerp = F.when(
        F.col("nd") == F.col("pd"), F.col("pv") * 10000
    ).otherwise(
        F.expr(
            "(pv * (datediff(nd, pd) - datediff(day, pd))"
            " + nv * datediff(day, pd)) * 10000L"
            " div datediff(nd, pd)"
        )
    )
    return j.select(
        "user_id",
        F.col("day").cast("timestamp").alias("day"),
        lerp.alias("interp_micro"),
        F.col("day_value").isNull().alias("is_gap"),
    ).orderBy("user_id", "day")


RFM_TILES = 4


@query(
    "q_behavior_rfm",
    oracle=f"""
        WITH now_ref AS (
          SELECT date_trunc('day', max(ts)) AS now_day FROM events
        ), per AS (
          SELECT user_id,
                 datediff('day', date_trunc('day', max(ts)),
                          (SELECT now_day FROM now_ref)) AS recency,
                 count(*) AS freq,
                 CAST(floor(CAST(sum(CAST(value AS DECIMAL(30,10)))
                                 AS DOUBLE) * 100) AS BIGINT)
                     AS monetary_cents
          FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(recency AS BIGINT) AS recency,
               freq,
               monetary_cents,
               CAST(ntile({RFM_TILES}) OVER (ORDER BY recency, user_id)
                    AS BIGINT) AS r_tile,
               CAST(ntile({RFM_TILES}) OVER (ORDER BY freq, user_id)
                    AS BIGINT) AS f_tile,
               CAST(ntile({RFM_TILES}) OVER (ORDER BY monetary_cents,
                                             user_id)
                    AS BIGINT) AS m_tile
        FROM per
        ORDER BY user_id
    """,
)
def q_behavior_rfm(spark, d):
    """RFM (recency / frequency / monetary) segmentation — the
    classic customer-scoring pass. Per-user measures come from one
    combinable agg (+ a 1-row broadcast of the corpus 'now'); each
    tile column is EXACT global NTILE semantics from
    operators/ranking.distributed_ntile — histogram buckets + a
    bucket-partitioned local window — never Spark's
    single-partition ntile()-over-everything (the q_win_ntile
    scale rule, applied three times). Monetary is quantized to exact
    integer CENTS (decimal sum -> identical double -> floor(x*100))
    BEFORE ranking and every ordering carries the user_id tiebreak,
    so both engines assign identical tiles."""
    from ..operators.ranking import multi_distributed_ntile

    ev = load(spark, d, "events")
    now_ref = ev.agg(
        F.date_trunc("day", F.max("ts")).alias("now_day")
    )
    per = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("day", F.max("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            F.floor(
                F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
                * 100
            ).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(now_ref))
        .select(
            "user_id",
            F.datediff(F.col("now_day"), F.col("last_day"))
            .cast("long")
            .alias("recency"),
            "freq",
            "monetary_cents",
        )
    )
    # The eager tile prologue (min/max/count + histogram) runs ONCE
    # for all three measures via multi_distributed_ntile (two jobs,
    # was six — r17); staging the 1-row-per-user agg keeps those jobs
    # from re-scanning the event table (measured 5.8 s → ~1.5 s).
    per = per.persist()
    out = multi_distributed_ntile(
        per,
        [
            ("recency", "r_tile"),
            ("freq", "f_tile"),
            ("monetary_cents", "m_tile"),
        ],
        ["user_id"],
        RFM_TILES,
    )
    return out.select(
        "user_id", "recency", "freq", "monetary_cents",
        "r_tile", "f_tile", "m_tile",
    ).orderBy("user_id")
