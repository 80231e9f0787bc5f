"""Round-16 batch: sweep-line session concurrency and HITS
hubs/authorities — the two SURVEY §2B rows documented since r11 but
never registered (VERDICT r15 item 1; the registry parity gate in
tests/test_queries_smoke.py now makes such phantom rows impossible).

- q_ts_concurrency: the classic sweep-line interval-overlap
  reduction. Each gap-30min session (q_behavior_sessionize's exact
  machinery) contributes one +1 boundary at its start and one −1 at
  its end; ONE ordered cumulative sum over the boundaries yields the
  active-session count at every instant — peak concurrency and the
  time-weighted mean per day, with NO interval self-join anywhere
  (the naive overlap join is quadratic in concurrent sessions).
  Sessions are clipped at midnight (a bounded explode over the days
  each session touches), so the cumsum partitions BY DAY — at 100 TB
  every partition is one day's boundary stream, never a global sort.
  Instantaneous-tie semantics: boundaries collapse per (day, ts)
  into (n_start, n_end) counts and the instantaneous peak counts
  starts BEFORE ends (prev + n_start), so a session ending exactly
  when another starts overlaps it, and single-event (zero-length)
  sessions register. All arithmetic is integer microseconds; the
  time-weighted average is area_us div (span_us div 1000) — exact
  truncating division on both engines, no float anywhere.
- q_graph_hits: Kleinberg-1999 hubs/authorities, 2 unrolled power
  rounds over the bipartite customer→part purchase graph (the
  tail-filtered q_graph_copurchase incidences, memoized as a parquet
  snapshot so the four message-passing consumers re-read a file
  instead of re-running the basket build). With a0 ≡ 1 every message
  sum is an exact INTEGER walk count (the q_graph_katz shortcut —
  strictly stronger than the decimal-quantized messages the SURVEY
  row sketched, and zero float risk): h1 = degree, a1 = Σ h1 over
  buyers, h2 = Σ a1 over baskets, a2 = Σ h2 over buyers. The L1
  normalization the float formulation needs per-round happens ONCE
  at the end, as exact-ppm shares of the round-2 totals. Bounds:
  with POP_CAP = 25 and max customer degree D, a2 ≤ 25²·D² — int64
  overflow needs D ≥ ~6e7 distinct tail parts per customer.

Plus the two optional-growth operators the r15 verdict named as the
real family gaps (item 7):

- q_stream_hopping_topk: the hopping-window leaderboard twin of
  q_stream_topk — top-3 most active users per 1-hour window hopping
  every 15 minutes (each event lands in exactly FOUR windows, the
  general Expand-based window assignment q_stream_sliding exercises
  at phase count 2). Declared: Spark's window() is batch/streaming
  identical, and the oracle expands the four shifted tumbling phases.
- q_dedup_containment_idf: IDF-weighted asymmetric containment — the
  dedup tier between q_text_containment (raw gram counts) and the
  semantic tiers: stop-ish grams that survive the DF cap stop
  dominating the ratio because each gram g is weighted by
  idf(g) = ln(N/df_g). Integer-exact end to end: ln only ever sees
  INTEGER arguments (the q_text_entropy posture), each gram weight is
  floor(1e6·(ln N − ln df)) BIGINT, and the containment ratios are
  exact-ppm integer divisions — no ROUND on raw doubles anywhere
  (the threshold is an integer ppm compare, zero ulp-collision risk).

Reference parity: the public repo (databricks/spark-sklearn 0.3.0)
has no relational/graph engine — these extend the SURVEY §2B surface,
cited to the public algorithms they implement (Kleinberg, "Authori-
tative sources in a hyperlinked environment", JACM 1999; the sweep-
line concurrency reduction is the standard interval-scheduling
folklore, e.g. de Berg et al., Computational Geometry §2; IDF
weighting per Sparck Jones 1972; Broder 1997 containment).
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load, snapshot, write_parquet
from .behavior import DAY_IDX_SQL, day_idx
from .bigrams import BIGRAMS_SQL, rare_grams
from .pipeline6 import SESSION_GAP_US
from .fits import LR_BINS_CTES, lr_decile_bins
from .pipeline8 import TAIL_BASKETS_SQL, tail_baskets

# --------------------------------------------------------------------------
# Sweep-line session concurrency profile
# --------------------------------------------------------------------------

DAY_US = 86_400_000_000  # one day in microseconds

_CONCURRENCY_SQL = f"""
    WITH o AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
      FROM events
    ), s AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev IS NULL
                    OR date_diff('microseconds', prev, ts)
                       > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS s_new
      FROM o
    ), t AS (
      SELECT user_id, ts,
             SUM(s_new) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), sess AS (
      SELECT user_id, sid,
             CAST(MIN(epoch_us(ts)) AS BIGINT) AS s_us,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS e_us
      FROM t GROUP BY user_id, sid
    ), seg0 AS (
      SELECT unnest(generate_series(s_us // {DAY_US},
                                    e_us // {DAY_US})) AS day_i,
             s_us, e_us
      FROM sess
    ), seg AS (
      SELECT day_i,
             greatest(s_us, day_i * {DAY_US}) AS seg_s,
             least(e_us, (day_i + 1) * {DAY_US}) AS seg_e
      FROM seg0
    ), b AS (
      SELECT day_i, seg_s AS ts_us, 1 AS s, 0 AS e FROM seg
      UNION ALL
      SELECT day_i, seg_e AS ts_us, 0 AS s, 1 AS e FROM seg
    ), bt AS (
      SELECT day_i, ts_us,
             CAST(SUM(s) AS BIGINT) AS ns,
             CAST(SUM(e) AS BIGINT) AS ne
      FROM b GROUP BY day_i, ts_us
    ), w AS (
      SELECT day_i, ts_us, ns, ne,
             CAST(SUM(ns - ne) OVER (PARTITION BY day_i ORDER BY ts_us
                                     ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum,
             lead(ts_us) OVER (PARTITION BY day_i
                               ORDER BY ts_us) AS nts
      FROM bt
    ), stepped AS (
      SELECT day_i, ns, cum,
             cum - (ns - ne) + ns AS peak_inst,
             ts_us,
             COALESCE(nts - ts_us, 0) AS w_us
      FROM w
    ), byday AS (
      SELECT day_i,
             CAST(SUM(ns) AS BIGINT) AS n_active_sessions,
             CAST(MAX(peak_inst) AS BIGINT) AS peak_conc,
             CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS span_us,
             CAST(SUM(cum * w_us) AS BIGINT) AS area_us
      FROM stepped GROUP BY day_i
    )
    SELECT DATE '1970-01-01' + CAST(day_i AS INTEGER) AS day,
           n_active_sessions, peak_conc, span_us,
           area_us // NULLIF(span_us // 1000, 0) AS conc_twa_milli
    FROM byday
    ORDER BY day
"""


@query("q_ts_concurrency", oracle=_CONCURRENCY_SQL)
def q_ts_concurrency(spark, d):
    """Sweep-line concurrency profile (module comment): per-day peak
    and time-weighted mean of the active-session count. Shape: ONE
    user-partitioned window shuffle (the sessionize machinery) into a
    per-session collapse, a bounded days-touched explode (inline of
    the two clipped boundary structs — O(1) work per generated row),
    a (day, ts) count collapse, ONE day-partitioned cumsum/lead
    window, and a per-day agg. No interval self-join, no global
    window: every stage is partitioned by user or by day, and the
    per-day boundary relation is the only thing the cumsum ever
    holds. All-integer microsecond arithmetic; the time-weighted
    average area_us div (span_us div 1000) is exact truncating
    division on both engines (NULL when the day's active span is
    under 1 ms)."""
    ev = load(spark, d, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    prev = F.lag(us).over(w)
    sess = (
        ev.withColumn(
            "s_new",
            F.when(prev.isNull() | (us - prev > SESSION_GAP_US), 1)
            .otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("s_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
    )
    seg = sess.select(
        F.explode(
            F.sequence(
                F.expr(f"s_us div {DAY_US}"), F.expr(f"e_us div {DAY_US}")
            )
        ).alias("day_i"),
        "s_us",
        "e_us",
    )
    b = seg.select(
        "day_i",
        F.expr(
            f"inline(array("
            f"struct(greatest(s_us, day_i * {DAY_US}) AS ts_us,"
            f" 1L AS s, 0L AS e),"
            f"struct(least(e_us, (day_i + 1) * {DAY_US}) AS ts_us,"
            f" 0L AS s, 1L AS e)))"
        ),
    )
    bt = b.groupBy("day_i", "ts_us").agg(
        F.sum("s").alias("ns"), F.sum("e").alias("ne")
    )
    wd = Window.partitionBy("day_i").orderBy("ts_us")
    stepped = bt.select(
        "day_i",
        "ts_us",
        "ns",
        F.sum(F.col("ns") - F.col("ne"))
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        (F.col("ns") - F.col("ne")).alias("net"),
        F.coalesce(
            F.lead("ts_us").over(wd) - F.col("ts_us"), F.lit(0)
        ).alias("w_us"),
    ).select(
        "day_i",
        "ns",
        "ts_us",
        "cum",
        "w_us",
        (F.col("cum") - F.col("net") + F.col("ns")).alias("peak_inst"),
    )
    return (
        stepped.groupBy("day_i")
        .agg(
            F.sum("ns").alias("n_active_sessions"),
            F.max("peak_inst").alias("peak_conc"),
            (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
            F.sum(F.col("cum") * F.col("w_us")).alias("area_us"),
        )
        .select(
            F.date_add(
                F.lit(date(1970, 1, 1)), F.col("day_i").cast("int")
            ).alias("day"),
            "n_active_sessions",
            "peak_conc",
            "span_us",
            F.expr("area_us div nullif(span_us div 1000, 0)").alias(
                "conc_twa_milli"
            ),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# HITS hubs/authorities on the co-purchase bipartite graph
# --------------------------------------------------------------------------

def copurchase_snapshot(spark, d):
    """The tail-filtered (cust, part) incidence relation as a parquet
    snapshot: q_graph_hits' four message-passing consumers re-read one
    file instead of re-running the basket build + popularity cap per
    consumer."""
    path = snapshot(
        spark, d, "copurchase_baskets",
        lambda p: write_parquet(tail_baskets(spark, d), p),
    )
    return spark.read.parquet(path)


_HITS_SQL = f"""
    WITH {TAIL_BASKETS_SQL},
    h1 AS (
      SELECT cust, CAST(COUNT(*) AS BIGINT) AS h
      FROM keep GROUP BY cust
    ),
    a1 AS (
      SELECT k.part, CAST(SUM(h1.h) AS BIGINT) AS a
      FROM keep k JOIN h1 ON h1.cust = k.cust GROUP BY k.part
    ),
    h2 AS (
      SELECT k.cust, CAST(SUM(a1.a) AS BIGINT) AS h
      FROM keep k JOIN a1 ON a1.part = k.part GROUP BY k.cust
    ),
    a2 AS (
      SELECT k.part, CAST(SUM(h2.h) AS BIGINT) AS a
      FROM keep k JOIN h2 ON h2.cust = k.cust GROUP BY k.part
    ),
    ht AS (SELECT CAST(SUM(h) AS BIGINT) AS tot FROM h2),
    at AS (SELECT CAST(SUM(a) AS BIGINT) AS tot FROM a2)
    SELECT 'hub' AS role, CAST(h1.cust AS BIGINT) AS node_id,
           h1.h AS w1, h2.h AS w2,
           h2.h * 1000000 // ht.tot AS score_ppm
    FROM h1 JOIN h2 ON h2.cust = h1.cust CROSS JOIN ht
    UNION ALL
    SELECT 'auth' AS role, CAST(a1.part AS BIGINT) AS node_id,
           a1.a AS w1, a2.a AS w2,
           a2.a * 1000000 // at.tot AS score_ppm
    FROM a1 JOIN a2 ON a2.part = a1.part CROSS JOIN at
    ORDER BY role, node_id
"""


@query("q_graph_hits", oracle=_HITS_SQL)
def q_graph_hits(spark, d):
    """HITS hubs/authorities (module comment): 2 unrolled power
    rounds over the memoized tail-filtered customer→part incidence
    snapshot. Every message sum is an exact integer walk count
    (a0 ≡ 1), so there is no per-round normalization and no float
    message passing — the q_graph_katz posture on a bipartite graph;
    the single L1 normalization at the end emits exact-ppm shares.
    Shape: 4 natural-key equi-joins + group-bys (one shuffle per
    half-round, snapshot-sized state, no lineage growth — each round
    reads only the previous round's relation), then two 1-row total
    broadcasts onto the bounded per-node relations (the documented
    ONE_ROW_BROADCAST exemption; the data-sized work happened in the
    partial aggs map-side). POP_CAP bounds every postings fan-out."""
    keep = copurchase_snapshot(spark, d)
    h1 = keep.groupBy("cust").agg(F.count(F.lit(1)).alias("h"))
    a1 = (
        keep.join(h1, "cust").groupBy("part").agg(F.sum("h").alias("a"))
    )
    h2 = (
        keep.join(a1, "part").groupBy("cust").agg(F.sum("a").alias("h"))
    )
    a2 = (
        keep.join(h2, "cust").groupBy("part").agg(F.sum("h").alias("a"))
    )
    ht = h2.agg(F.sum("h").alias("tot"))
    at = a2.agg(F.sum("a").alias("tot"))
    hubs = (
        h1.select(F.col("cust"), F.col("h").alias("w1"))
        .join(h2.select("cust", F.col("h").alias("w2")), "cust")
        .crossJoin(ht)
        .select(
            F.lit("hub").alias("role"),
            F.col("cust").cast("long").alias("node_id"),
            "w1",
            "w2",
            F.expr("w2 * 1000000L div tot").alias("score_ppm"),
        )
    )
    auths = (
        a1.select(F.col("part"), F.col("a").alias("w1"))
        .join(a2.select("part", F.col("a").alias("w2")), "part")
        .crossJoin(at)
        .select(
            F.lit("auth").alias("role"),
            F.col("part").cast("long").alias("node_id"),
            "w1",
            "w2",
            F.expr("w2 * 1000000L div tot").alias("score_ppm"),
        )
    )
    return hubs.unionAll(auths).orderBy("role", "node_id")


# --------------------------------------------------------------------------
# Hopping-window top-k leaderboard (declared streaming twin)
# --------------------------------------------------------------------------

HOP_TOPK = 3


@query(
    "q_stream_hopping_topk",
    oracle="""
        WITH phased AS (
          SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)
                     AS window_start, user_id FROM events
          UNION ALL
          SELECT CAST(time_bucket(INTERVAL '1 hour',
                                  ts - INTERVAL '15 minutes')
                      + INTERVAL '15 minutes' AS TIMESTAMP), user_id
          FROM events
          UNION ALL
          SELECT CAST(time_bucket(INTERVAL '1 hour',
                                  ts - INTERVAL '30 minutes')
                      + INTERVAL '30 minutes' AS TIMESTAMP), user_id
          FROM events
          UNION ALL
          SELECT CAST(time_bucket(INTERVAL '1 hour',
                                  ts - INTERVAL '45 minutes')
                      + INTERVAL '45 minutes' AS TIMESTAMP), user_id
          FROM events
        ),
        bucketed AS (
          SELECT window_start, user_id,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM phased GROUP BY window_start, user_id
        ),
        ranked AS (
          SELECT window_start, user_id, n_events,
                 CAST(ROW_NUMBER() OVER (
                     PARTITION BY window_start
                     ORDER BY n_events DESC, user_id) AS BIGINT) AS rnk
          FROM bucketed
        )
        SELECT window_start, rnk, user_id, n_events
        FROM ranked WHERE rnk <= 3
        ORDER BY window_start, rnk
    """,
)
def q_stream_hopping_topk(spark, d):
    """Hopping-window leaderboard: the 3 most active users per
    1-hour window hopping every 15 minutes — q_stream_topk's shape
    under the GENERAL slide (4 phases; each event expands into
    exactly four windows via Spark's Expand-based window()). The
    oracle enumerates the four shifted tumbling phases — the same
    assignment rule. Counts first shrink (window, user) to one row
    via a combinable agg behind the 4× Expand (linear in events),
    then row_number partitions BY WINDOW — many small partitions, no
    global sort. Deterministic ties by user_id. Declared because
    window() is batch/streaming identical; production emits each
    leaderboard at window close via foreachBatch."""
    from pyspark.sql import Window as W

    ev = load(spark, d, "events")
    bucketed = ev.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("win"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w_rank = W.partitionBy("win").orderBy(F.desc("n_events"), "user_id")
    return (
        bucketed.withColumn(
            "rnk", F.row_number().over(w_rank).cast("long")
        )
        .filter(F.col("rnk") <= HOP_TOPK)
        .select(
            F.col("win.start").alias("window_start"),
            "rnk",
            "user_id",
            "n_events",
        )
        .orderBy("window_start", "rnk")
    )


# --------------------------------------------------------------------------
# IDF-weighted asymmetric containment (dedup tier)
# --------------------------------------------------------------------------

# integer-ppm threshold (= the 0.6 of q_text_containment's CONTAIN_TAU,
# but compared as exact integers — no ROUND-on-double anywhere)
CONTAIN_IDF_TAU_PPM = 600_000


_CONTAINMENT_IDF_ORACLE = f"""
        WITH {BIGRAMS_SQL},
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        wg AS (
          SELECT r.doc_id, r.g,
                 CAST(floor((ln(CAST(nd.n AS DOUBLE))
                             - ln(CAST(r.df AS DOUBLE))) * 1000000)
                      AS BIGINT) AS w
          FROM rare r CROSS JOIN nd
        ),
        wsz AS (
          SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wtot
          FROM wg GROUP BY doc_id HAVING SUM(w) > 0
        ),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(SUM(a.w) AS BIGINT) AS wi
          FROM wg a JOIN wg b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY doc_a, doc_b
        )
        SELECT i.doc_a, i.doc_b, i.wi,
               sa.wtot AS w_a, sb.wtot AS w_b,
               i.wi * 1000000 // sa.wtot AS cont_idf_a_ppm,
               i.wi * 1000000 // sb.wtot AS cont_idf_b_ppm
        FROM inter i
        JOIN wsz sa ON sa.doc_id = i.doc_a
        JOIN wsz sb ON sb.doc_id = i.doc_b
        WHERE greatest(i.wi * 1000000 // sa.wtot,
                       i.wi * 1000000 // sb.wtot)
              >= {CONTAIN_IDF_TAU_PPM}
        ORDER BY doc_a, doc_b
"""


@query("q_dedup_containment_idf", oracle=_CONTAINMENT_IDF_ORACLE)
def q_dedup_containment_idf(spark, d):
    """IDF-weighted asymmetric containment over DF-capped word
    bigrams (module comment): C_idf(A,B) = Σ_{g∈A∩B} idf(g) /
    Σ_{g∈A} idf(g), surfacing pairs where either direction clears
    0.6 — the quote/subset detector of q_text_containment, but
    frequent low-signal grams no longer dominate the ratio. Rides
    the SAME DF-capped postings join as the whole n-gram family
    (fan-out bounded by DF_CAP, never doc×doc); the per-gram df
    reuses the window count the cap already paid for (one shuffle on
    g). Weights are floor-micro BIGINTs of ln(N) − ln(df) — ln only
    sees integers, every sum/division downstream is exact integer
    arithmetic, and the threshold compares ppm integers (no ROUND on
    raw doubles). Docs with zero IDF mass (every gram in all N docs)
    are excluded on both engines before any division."""
    rare = rare_grams(spark, d, with_df=True)
    docs = load(spark, d, "documents")
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    wg = rare.crossJoin(nd).select(
        "doc_id",
        "g",
        F.expr(
            "CAST(floor((ln(CAST(n AS DOUBLE))"
            " - ln(CAST(df AS DOUBLE))) * 1000000) AS BIGINT)"
        ).alias("w"),
    )
    wsz = (
        wg.groupBy("doc_id")
        .agg(F.sum("w").alias("wtot"))
        .filter(F.col("wtot") > 0)
    )
    a = wg.select(F.col("doc_id").alias("doc_a"), "g", "w")
    b = wg.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").alias("wi"))
    )
    sa = wsz.select(F.col("doc_id").alias("doc_a"), F.col("wtot").alias("w_a"))
    sb = wsz.select(F.col("doc_id").alias("doc_b"), F.col("wtot").alias("w_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "wi",
            "w_a",
            "w_b",
            F.expr("wi * 1000000L div w_a").alias("cont_idf_a_ppm"),
            F.expr("wi * 1000000L div w_b").alias("cont_idf_b_ppm"),
        )
        .filter(
            F.greatest("cont_idf_a_ppm", "cont_idf_b_ppm")
            >= CONTAIN_IDF_TAU_PPM
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Mann–Kendall monotone-trend test (daily revenue per event type)
# --------------------------------------------------------------------------
#
# The nonparametric TEST companion to q_ts_theilsen's Sen SLOPE
# (Mann 1945; Kendall 1975): S = Σ_{i<j} sign(x_j − x_i) over the
# calendar-bounded daily series, tie-corrected variance
# 18·var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and the
# continuity-corrected Z. Exact posture: the daily value is BIGINT
# CENTS (decimal-exact sum ×100, floored once), so every sign and
# every tie group is exact integer; var18 stays a BIGINT; the single
# float touch is (S∓1)/sqrt(var18/18) — sqrt is IEEE
# correctly-rounded, identical on identical doubles — floored to
# micro. Pair fan-out is calendar-bounded (≤n²/type per year), the
# q_ts_theilsen shape.

_MANN_KENDALL_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             {DAY_IDX_SQL} AS d,
             CAST(floor(SUM(CAST(value AS DECIMAL(30,10))) * 100)
                  AS BIGINT) AS c
      FROM events
      GROUP BY event_type, d
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type AND b.d > a.d
      GROUP BY a.event_type
    ),
    nn AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM daily GROUP BY event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                  AS BIGINT) AS tie_term
      FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, c) g
      GROUP BY event_type
    ),
    stat AS (
      SELECT n.event_type, n.n, p.s_stat,
             n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term AS var18
      FROM nn n
      JOIN pairs p ON p.event_type = n.event_type
      JOIN ties t ON t.event_type = n.event_type
    )
    SELECT event_type, n AS n_days, s_stat, var18,
           CASE WHEN var18 <= 0 THEN NULL
                WHEN s_stat > 0 THEN CAST(floor(
                    (CAST(s_stat AS DOUBLE) - 1.0e0)
                    / sqrt(CAST(var18 AS DOUBLE) / 18.0e0)
                    * 1000000) AS BIGINT)
                WHEN s_stat < 0 THEN CAST(floor(
                    (CAST(s_stat AS DOUBLE) + 1.0e0)
                    / sqrt(CAST(var18 AS DOUBLE) / 18.0e0)
                    * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_micro
    FROM stat
    ORDER BY event_type
"""


@query("q_ts_mann_kendall", oracle=_MANN_KENDALL_ORACLE)
def q_ts_mann_kendall(spark, d):
    """Mann–Kendall monotone-trend test (module comment): is each
    event type's daily revenue trending, nonparametrically? One hash
    agg to the calendar grain (the only corpus shuffle), a self
    equi-join on event_type over the tiny daily relation
    (calendar-bounded pair fan-out — the q_ts_theilsen posture), a
    tie-group collapse, and a per-type closing projection whose only
    float is the continuity-corrected Z (IEEE sqrt on identical
    doubles, floored to micro). var18 = 18·var(S) ships as the exact
    BIGINT so the test is replayable without float trust."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        "event_type",
        day_idx().alias("dd"),
    ).agg(
        F.expr(
            "CAST(floor(SUM(CAST(value AS DECIMAL(30,10))) * 100)"
            " AS BIGINT)"
        ).alias("c")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.dd") > F.col("a.dd")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.c") > F.col("a.c"), 1)
                .when(F.col("b.c") < F.col("a.c"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0)
            ).alias("tie_term")
        )
    )
    stat = (
        nn.join(pairs, "event_type")
        .join(ties, "event_type")
        .selectExpr(
            "event_type",
            "n AS n_days",
            "s_stat",
            "n * (n - 1) * (2 * n + 5) - tie_term AS var18",
        )
    )
    return stat.selectExpr(
        "event_type",
        "n_days",
        "s_stat",
        "var18",
        """CASE WHEN var18 <= 0 THEN NULL
                WHEN s_stat > 0 THEN CAST(floor(
                    (CAST(s_stat AS DOUBLE) - 1.0D)
                    / sqrt(CAST(var18 AS DOUBLE) / 18.0D)
                    * 1000000) AS BIGINT)
                WHEN s_stat < 0 THEN CAST(floor(
                    (CAST(s_stat AS DOUBLE) + 1.0D)
                    / sqrt(CAST(var18 AS DOUBLE) / 18.0D)
                    * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_micro""",
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Moving-average crossover detection (golden/death cross)
# --------------------------------------------------------------------------
#
# The classic trading-signal shape next to q_ts_bollinger/q_ts_ewma:
# a short (3-day) SMA crossing a long (7-day) SMA of daily revenue.
# ZERO divisions: SMA_3 > SMA_7 ⇔ S3·n7 > S7·n3 on exact BIGINT
# cents (cross-multiplication keeps the comparison integer-exact —
# no float SMA anywhere), so the sign series and every crossing day
# are exact on both engines. Crossings are evaluated on the OBSERVED
# daily series (trading-day convention: missing days don't emit
# phantom rows; lag skips to the previous observed day).

SMA_SHORT = 3
SMA_LONG = 7

_SMA_CROSS_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             {DAY_IDX_SQL} AS d,
             CAST(floor(SUM(CAST(value AS DECIMAL(30,10))) * 100)
                  AS BIGINT) AS c
      FROM events
      GROUP BY event_type, d
    ),
    sma AS (
      SELECT event_type, d,
             CAST(SUM(c) OVER w3 AS BIGINT) AS s3,
             CAST(COUNT(*) OVER w3 AS BIGINT) AS n3,
             CAST(SUM(c) OVER w7 AS BIGINT) AS s7,
             CAST(COUNT(*) OVER w7 AS BIGINT) AS n7
      FROM daily
      WINDOW w3 AS (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN {SMA_SHORT - 1} PRECEDING
                    AND CURRENT ROW),
             w7 AS (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN {SMA_LONG - 1} PRECEDING
                    AND CURRENT ROW)
    ),
    signed AS (
      SELECT event_type, d,
             s3 * n7 - s7 * n3 AS diff,
             CASE WHEN s3 * n7 - s7 * n3 > 0 THEN 1
                  WHEN s3 * n7 - s7 * n3 < 0 THEN -1
                  ELSE 0 END AS sgn
      FROM sma
    ),
    lagged AS (
      SELECT event_type, d, diff, sgn,
             lag(diff) OVER (PARTITION BY event_type ORDER BY d)
                 AS diff_prev,
             lag(sgn) OVER (PARTITION BY event_type ORDER BY d)
                 AS sgn_prev
      FROM signed
    )
    SELECT event_type,
           DATE '1970-01-01' + CAST(d AS INTEGER) AS day,
           CASE WHEN sgn > 0 THEN 'golden' ELSE 'death' END
               AS direction,
           diff_prev, diff
    FROM lagged
    WHERE sgn_prev IS NOT NULL AND sgn <> sgn_prev
      AND sgn <> 0 AND sgn_prev <> 0
    ORDER BY event_type, day
"""


@query("q_ts_sma_cross", oracle=_SMA_CROSS_ORACLE)
def q_ts_sma_cross(spark, d):
    """Golden/death-cross detection (module comment): days where the
    3-day SMA of daily revenue crosses the 7-day SMA, per event
    type. One calendar-grain hash agg (the only corpus shuffle),
    then two rolling frames + one lag sharing a single
    (event_type; d) window partitioning over the bounded daily
    relation, and a crossing filter. All-integer: cents in, exact
    cross-multiplied BIGINT comparisons out — both engines agree on
    every sign, so the crossing set is hash-stable with no epsilon
    anywhere."""
    from pyspark.sql import Window as W

    ev = load(spark, d, "events")
    daily = ev.groupBy(
        "event_type",
        day_idx().alias("dd"),
    ).agg(
        F.expr(
            "CAST(floor(SUM(CAST(value AS DECIMAL(30,10))) * 100)"
            " AS BIGINT)"
        ).alias("c")
    )
    base = W.partitionBy("event_type").orderBy("dd")
    w3 = base.rowsBetween(-(SMA_SHORT - 1), 0)
    w7 = base.rowsBetween(-(SMA_LONG - 1), 0)
    sma = daily.select(
        "event_type",
        "dd",
        F.sum("c").over(w3).alias("s3"),
        F.count(F.lit(1)).over(w3).alias("n3"),
        F.sum("c").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    signed = sma.select(
        "event_type",
        "dd",
        (F.col("s3") * F.col("n7") - F.col("s7") * F.col("n3")).alias(
            "diff"
        ),
    ).withColumn(
        "sgn",
        F.when(F.col("diff") > 0, 1)
        .when(F.col("diff") < 0, -1)
        .otherwise(0),
    )
    lagged = signed.select(
        "event_type",
        "dd",
        "diff",
        "sgn",
        F.lag("diff").over(base).alias("diff_prev"),
        F.lag("sgn").over(base).alias("sgn_prev"),
    )
    return (
        lagged.filter(
            F.col("sgn_prev").isNotNull()
            & (F.col("sgn") != F.col("sgn_prev"))
            & (F.col("sgn") != 0)
            & (F.col("sgn_prev") != 0)
        )
        .select(
            "event_type",
            F.date_add(
                F.lit(date(1970, 1, 1)), F.col("dd").cast("int")
            ).alias("day"),
            F.when(F.col("sgn") > 0, "golden")
            .otherwise("death")
            .alias("direction"),
            "diff_prev",
            "diff",
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Hosmer–Lemeshow goodness-of-fit over the shared logistic fit
# --------------------------------------------------------------------------
#
# Completes the calibration family (q_ml_calibration reliability
# bins, q_ml_brier_decomp, q_ml_ece): the CLASSIC grouped
# goodness-of-fit TEST (Hosmer & Lemeshow 1980),
# HL = Σ_b (O_b − E_b)² / (E_b·(1 − E_b/n_b)) over the SAME decile
# bins and bit-identical GD scores as the rest of the family. Per
# bin, O_b is an exact integer, E_b comes from the exact decimal
# score sum, so each term is an identical-IEEE double on both
# engines; terms quantize to DECIMAL(30,10) before the ≤10-term sum
# (the q_ml_ece posture) and the statistic ships floor-micro with
# df = n_bins − 2.


_HOSMER_LEMESHOW_ORACLE = f"""
    WITH {LR_BINS_CTES},
    terms AS (
      SELECT nb, n_pos,
             CAST(sp AS DOUBLE) AS e,
             (CAST(n_pos AS DOUBLE) - CAST(sp AS DOUBLE))
             * (CAST(n_pos AS DOUBLE) - CAST(sp AS DOUBLE))
             / NULLIF(CAST(sp AS DOUBLE)
                      * (1.0 - CAST(sp AS DOUBLE) / nb), 0)
                 AS term
      FROM bins
    )
    SELECT CAST(SUM(nb) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(COUNT(*) - 2 AS BIGINT) AS df,
           CAST(floor(CAST(SUM(CAST(term AS DECIMAL(30,10)))
                           AS DOUBLE) * 1000000) AS BIGINT) AS hl_q6
    FROM terms
    """


@query("q_ml_hosmer_lemeshow", oracle=_HOSMER_LEMESHOW_ORACLE)
def q_ml_hosmer_lemeshow(spark, d):
    """Hosmer–Lemeshow grouped goodness-of-fit (module comment):
    reuses q_ml_logreg's bit-identical memoized GD weights and decile
    bins (fits.lr_decile_bins — the memoized weights are the
    unrolled-lineage escape that dropped this family to sub-second in
    r14), then ≤10-row term arithmetic (ONE_ROW_BROADCAST class,
    exactly the q_ml_ece shape). O_b is n_pos, E_b the score sum sp."""
    terms = lr_decile_bins(spark, d).selectExpr(
        "nb",
        "(CAST(n_pos AS DOUBLE) - CAST(sp AS DOUBLE))"
        " * (CAST(n_pos AS DOUBLE) - CAST(sp AS DOUBLE))"
        " / NULLIF(CAST(sp AS DOUBLE)"
        "          * (1.0D - CAST(sp AS DOUBLE) / nb), 0) AS term",
    )
    return terms.agg(
        F.sum("nb").alias("n"),
        F.count(F.lit(1)).alias("n_bins"),
        (F.count(F.lit(1)) - 2).alias("df"),
        F.expr(
            "CAST(floor(CAST(SUM(CAST(term AS DECIMAL(30,10)))"
            " AS DOUBLE) * 1000000) AS BIGINT)"
        ).alias("hl_q6"),
    )


# --------------------------------------------------------------------------
# Dickey–Fuller unit-root test (daily revenue per event type)
# --------------------------------------------------------------------------
#
# The stationarity companion to q_ts_mann_kendall's monotone-trend
# test (Dickey & Fuller 1979, zero augmentation lags): regress
# Δy_t on (1, y_{t−1}) over the observed daily series and report the
# t-statistic of the lag coefficient — deeply negative t rejects the
# unit root. The q_ts_granger posture: ONE calendar collapse to
# exact integer WHOLE-UNIT daily revenue (floor of the decimal sum —
# whole units, not cents, keep every moment ≤ ~4e17 with int64
# headroom; bound documented), exact BIGINT moments (n, Sx, Sy, Sxx,
# Sxy, Syy), then the closed-form OLS beta/t in ONE shared float
# expression. NOTE on the bound (r17 advice): the beta/t cross
# products (n·Sxx, Sx², n·Sxy − Sx·Sy) are formed in BIGINT before
# the DOUBLE cast, so they grow quadratically in the moments (~1e13
# at the 10× probe vs the 9.2e18 int64 ceiling) — and on eventual
# overflow the engines DIVERGE asymmetrically: DuckDB raises an
# out-of-range error while Spark silently wraps. The whole-unit
# collapse keeps ~6 orders of headroom at any plausible fixture
# scale; if a larger deployment ever nears the bound, cast the
# moments to DOUBLE before the products ON BOTH ENGINES in the same
# round (the result is float anyway, but the cast changes rounding,
# so it must land as one paired change).
# expression evaluated verbatim on both engines and floored to
# micro. The moments ship as BIGINTs so the test is replayable
# without float trust.

# the closing float math, shared VERBATIM by both engines (identical
# IEEE op sequence on identical integer inputs)
_DF_T_EXPR = (
    "CAST(floor("
    "(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / CAST(n * sxx - sx * sx AS DOUBLE))"
    " / NULLIF(sqrt("
    "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)"
    " - (CAST(n * sxy - sx * sy AS DOUBLE)"
    "    / CAST(n * sxx - sx * sx AS DOUBLE))"
    "   * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n))"
    " / (n - 2) * n / CAST(n * sxx - sx * sx AS DOUBLE)"
    "), 0)"
    " * 1000000) AS BIGINT)"
)

_DF_BETA_EXPR = (
    "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)"
)

_DICKEY_FULLER_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             {DAY_IDX_SQL} AS d,
             CAST(floor(SUM(CAST(value AS DECIMAL(30,10))))
                  AS BIGINT) AS y
      FROM events
      GROUP BY event_type, d
    ),
    lagged AS (
      SELECT event_type,
             lag(y) OVER (PARTITION BY event_type ORDER BY d) AS x,
             y - lag(y) OVER (PARTITION BY event_type ORDER BY d)
                 AS dy
      FROM daily
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(dy) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * dy) AS BIGINT) AS sxy,
             CAST(SUM(dy * dy) AS BIGINT) AS syy
      FROM lagged WHERE x IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n AS n_obs, sx, sy, sxx, sxy, syy,
           CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
                THEN {_DF_BETA_EXPR} ELSE NULL END AS beta_micro,
           CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
                THEN {_DF_T_EXPR} ELSE NULL END AS df_t_micro
    FROM m
    ORDER BY event_type
"""


@query("q_ts_dickey_fuller", oracle=_DICKEY_FULLER_ORACLE)
def q_ts_dickey_fuller(spark, d):
    """Dickey–Fuller unit-root t-test (module comment): one
    calendar-grain hash agg (the only corpus shuffle), one
    per-type lag window over the bounded daily relation, a
    combinable 6-moment collapse, and the closed-form beta/t
    projection — the identical float expression text runs on both
    engines, floored to micro, with the exact BIGINT moments
    alongside for replay. Guards: NULL when n < 3 or the design
    matrix is degenerate (all lag values equal)."""
    from pyspark.sql import Window as W

    ev = load(spark, d, "events")
    daily = ev.groupBy(
        "event_type",
        day_idx().alias("dd"),
    ).agg(
        F.expr(
            "CAST(floor(SUM(CAST(value AS DECIMAL(30,10))))"
            " AS BIGINT)"
        ).alias("y")
    )
    base = W.partitionBy("event_type").orderBy("dd")
    lagged = daily.select(
        "event_type",
        F.lag("y").over(base).alias("x"),
        (F.col("y") - F.lag("y").over(base)).alias("dy"),
    ).filter(F.col("x").isNotNull())
    m = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * dy")).alias("sxy"),
        F.sum(F.expr("dy * dy")).alias("syy"),
    )
    return m.selectExpr(
        "event_type",
        "n AS n_obs",
        "sx",
        "sy",
        "sxx",
        "sxy",
        "syy",
        f"CASE WHEN n >= 3 AND n * sxx - sx * sx > 0"
        f" THEN {_DF_BETA_EXPR} ELSE NULL END AS beta_micro",
        f"CASE WHEN n >= 3 AND n * sxx - sx * sx > 0"
        f" THEN {_DF_T_EXPR} ELSE NULL END AS df_t_micro",
    ).orderBy("event_type")
