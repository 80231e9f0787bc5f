"""Round-9 batch B: rank correlations, graph assortativity, behavior
gap profiling, deterministic reservoir sampling, and fact-vs-rollup
reconciliation.

New keys (SURVEY.md §2B):
- q_ml_spearman        — Spearman rho between per-type daily revenues
- q_ml_kendall         — Kendall tau-a on the same paired daily series
- q_graph_assortativity— degree assortativity of the near-dup graph
- q_behavior_gaps      — inter-event gap histogram per event type
- q_sample_reservoir   — per-source uniform k-sample via k-min h56
- q_dq_reconcile       — orders.o_totalprice vs lineitem rollup audit

All declared; r8 output policy (integer micro/ppm, decimal-quantized
sums, paired truncating div, HUGEINT casts). Rank statistics are
computed on calendar-bounded daily relations, so even the O(n²)
Kendall pair join is ~C(30,2) rows per type pair.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import DEC, h56, sql_h56
from .behavior import TYPE_DAY_REVENUE_CTE, day_revenue
from .bigrams import NEAR_DUP_DEG_CTES, degrees, near_dup_edges

# --------------------------------------------------------------------------
# Spearman rank correlation between event types' daily revenue
# --------------------------------------------------------------------------
#
# rho = 1 − 6·Σd² / (n·(n²−1)) over day-paired rank differences. Daily
# revenue quantizes to exact micro ints at the collapse; ranks are
# ROW_NUMBER over (rev_micro, day) — the day tie-break makes ties
# deterministic on both engines (documented deviation from mid-rank
# ties; exact integer ranks beat a float tie convention here). Σd² is
# an exact integer, and the one closing division is identical-operand
# IEEE, floored to micro. Everything past the collapse is
# calendar-bounded.

_SPEARMAN_ORACLE = f"""
    WITH {TYPE_DAY_REVENUE_CTE},
    ranked AS (
      SELECT event_type, day,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY rev_micro, day)
                  AS BIGINT) AS rk
      FROM daily
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((a.rk - b.rk) * (a.rk - b.rk)) AS BIGINT) AS d2
      FROM ranked a
      JOIN ranked b ON b.day = a.day AND a.event_type < b.event_type
      GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n, d2,
           CAST(floor((1.0 - (6.0 * d2)
                             / (CAST(n AS DOUBLE) * (n * n - 1)))
                      * 1000000.0) AS BIGINT) AS rho_micro
    FROM pairs
    WHERE n > 1
    ORDER BY type_a, type_b
"""


@query("q_ml_spearman", oracle=_SPEARMAN_ORACLE)
def q_ml_spearman(spark, d):
    """Spearman rho for every event-type pair's day-paired revenue
    (module comment). One corpus collapse; ranks, the day-keyed pair
    join, and the closing division all run on calendar-bounded
    relations."""
    daily = day_revenue(spark, d, by=("event_type",))
    w = Window.partitionBy("event_type").orderBy("rev_micro", "day")
    ranked = daily.select(
        "event_type", "day", F.row_number().over(w).cast("long").alias("rk")
    )
    a = ranked.select(
        F.col("event_type").alias("type_a"), "day", F.col("rk").alias("ra")
    )
    b = ranked.select(
        F.col("event_type").alias("type_b"), "day", F.col("rk").alias("rb")
    )
    pairs = (
        a.join(b, "day")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
            ).alias("d2"),
        )
    )
    return (
        pairs.filter(F.col("n") > 1)
        .selectExpr(
            "type_a",
            "type_b",
            "n",
            "d2",
            "cast(floor((1.0d - (6.0d * d2)"
            " / (cast(n as double) * (n * n - 1)))"
            " * 1000000.0d) as bigint) AS rho_micro",
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# Kendall tau-a on the same day-paired series
# --------------------------------------------------------------------------
#
# tau_a = (C − D) / (n·(n−1)/2) counting concordant/discordant day
# pairs. The pair fan-out is C(days, 2) per type pair — calendar-
# bounded, never corpus-bounded (the q_ts_theilsen argument).
# Concordance uses SIGN products of exact integer differences, so C,
# D, and ties are exact integers; one closing identical-operand
# division, floored to micro.

_KENDALL_ORACLE = f"""
    WITH {TYPE_DAY_REVENUE_CTE},
    paired AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.day, a.rev_micro AS xa, b.rev_micro AS xb
      FROM daily a
      JOIN daily b ON b.day = a.day AND a.event_type < b.event_type
    ),
    daypairs AS (
      SELECT p.type_a, p.type_b,
             sign(q.xa - p.xa) * sign(q.xb - p.xb) AS s
      FROM paired p
      JOIN paired q ON q.type_a = p.type_a AND q.type_b = p.type_b
                    AND q.day > p.day
    )
    SELECT type_a, type_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS concordant,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS discordant,
           CAST(floor((CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)
                            - SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*))
                      * 1000000.0) AS BIGINT) AS tau_micro
    FROM daypairs
    GROUP BY type_a, type_b
    ORDER BY type_a, type_b
"""


@query("q_ml_kendall", oracle=_KENDALL_ORACLE)
def q_ml_kendall(spark, d):
    """Kendall tau-a per event-type pair (module comment): one corpus
    collapse, a day-keyed pairing, then the C(days,2) concordance
    join — all calendar-bounded integer work."""
    daily = day_revenue(spark, d, by=("event_type",))
    a = daily.select(
        F.col("event_type").alias("type_a"),
        "day",
        F.col("rev_micro").alias("xa"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        "day",
        F.col("rev_micro").alias("xb"),
    )
    paired = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    p = paired.select(
        "type_a", "type_b", F.col("day").alias("day_p"),
        F.col("xa").alias("xa_p"), F.col("xb").alias("xb_p"),
    )
    q = paired.select(
        "type_a", "type_b", F.col("day").alias("day_q"),
        F.col("xa").alias("xa_q"), F.col("xb").alias("xb_q"),
    )
    daypairs = (
        p.join(q, ["type_a", "type_b"])
        .filter(F.col("day_q") > F.col("day_p"))
        .select(
            "type_a",
            "type_b",
            (
                F.signum(F.col("xa_q") - F.col("xa_p"))
                * F.signum(F.col("xb_q") - F.col("xb_p"))
            ).alias("s"),
        )
    )
    return (
        daypairs.groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
            .cast("long")
            .alias("concordant"),
            F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
            .cast("long")
            .alias("discordant"),
        )
        .selectExpr(
            "type_a",
            "type_b",
            "n_pairs",
            "concordant",
            "discordant",
            "cast(floor((cast(concordant - discordant as double)"
            " / n_pairs) * 1000000.0d) as bigint) AS tau_micro",
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# Degree assortativity of the near-dup graph
# --------------------------------------------------------------------------
#
# Newman's degree assortativity r — the Pearson correlation of end
# degrees over directed edge stubs: with M = |stubs|,
#   r = (S_jk/M − (S_h/M)²) / (S_sq/M − (S_h/M)²)
# where over stubs (j,k): S_jk = Σ j·k, S_h = Σ ½(j+k),
# S_sq = Σ ½(j²+k²). Degrees are exact integers from the symmetric
# edge agg; the three sums are exact integer aggregates (½ terms stay
# integral because j+k and j²+k² are summed over BOTH stub directions
# — we sum the undirected edge list once with j+k whole); the closing
# expression is identical-operand IEEE, floored to micro. Rides the
# memoized edge snapshot.


_ASSORTATIVITY_ORACLE = f"""
        WITH {NEAR_DUP_DEG_CTES},
        stubs AS (
            SELECT du.dg AS j, dv.dg AS k
            FROM edges0 e
            JOIN deg du ON du.doc_id = e.doc_a
            JOIN deg dv ON dv.doc_id = e.doc_b
        ),
        sums AS (
            SELECT CAST(2 * COUNT(*) AS BIGINT) AS m,
                   CAST(2 * SUM(j * k) AS BIGINT) AS s_jk2,
                   CAST(SUM(j + k) AS BIGINT) AS s_h,
                   CAST(SUM(j * j + k * k) AS BIGINT) AS s_sq
            FROM stubs
        )
        SELECT m, s_jk2, s_h, s_sq,
               CAST(floor(((CAST(s_jk2 AS DOUBLE) / m
                            - (CAST(s_h AS DOUBLE) / m)
                              * (CAST(s_h AS DOUBLE) / m))
                           / (CAST(s_sq AS DOUBLE) / m
                              - (CAST(s_h AS DOUBLE) / m)
                                * (CAST(s_h AS DOUBLE) / m)))
                          * 1000000.0) AS BIGINT) AS assort_micro
        FROM sums
"""


@query("q_graph_assortativity", oracle=_ASSORTATIVITY_ORACLE)
def q_graph_assortativity(spark, d):
    """Degree assortativity of the near-dup graph (module comment):
    degree agg + one edge join on the memoized snapshot; the three
    stub sums collapse to a single row before the closing division."""
    edges = (
        near_dup_edges(spark, d)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .localCheckpoint()
    )
    deg = degrees(edges, "u", "v")
    du = deg.select(F.col("doc_id").alias("u"), F.col("dg").alias("j"))
    dv = deg.select(F.col("doc_id").alias("v"), F.col("dg").alias("k"))
    stubs = edges.join(du, "u").join(dv, "v")
    sums = stubs.agg(
        (F.count(F.lit(1)) * 2).cast("long").alias("m"),
        (F.sum(F.col("j") * F.col("k")) * 2).cast("long").alias("s_jk2"),
        F.sum(F.col("j") + F.col("k")).cast("long").alias("s_h"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("long")
        .alias("s_sq"),
    )
    return sums.selectExpr(
        "m",
        "s_jk2",
        "s_h",
        "s_sq",
        "cast(floor(((cast(s_jk2 as double) / m"
        " - (cast(s_h as double) / m) * (cast(s_h as double) / m))"
        " / (cast(s_sq as double) / m"
        " - (cast(s_h as double) / m) * (cast(s_h as double) / m)))"
        " * 1000000.0d) as bigint) AS assort_micro",
    )


# --------------------------------------------------------------------------
# Inter-event gap histogram per event type
# --------------------------------------------------------------------------
#
# The sessionization diagnostic BEFORE picking a session timeout:
# per-user inter-event gaps (lag window, the one corpus shuffle),
# bucketed into minute-resolution log2 bins via integer bit length —
# exact integer arithmetic end to end (no float log2).

_GAPS_ORACLE = """
    WITH seq AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    binned AS (
      -- bucket = bit length of (gap_minutes + 1): floor(log2)+1 as an
      -- EXACT integer via the binary-string length — no float log2
      SELECT event_type,
             CAST(CASE WHEN gap_us <= 0 THEN 0
                       ELSE length(bin(CAST(gap_us // 60000000 + 1
                                            AS BIGINT)))
                  END AS BIGINT) AS bucket
      FROM seq WHERE gap_us IS NOT NULL
    )
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM binned
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
"""


@query("q_behavior_gaps", oracle=_GAPS_ORACLE)
def q_behavior_gaps(spark, d):
    """Inter-event gap log2-minute histogram per event type (module
    comment). One user-partitioned lag window; the histogram is a
    combinable (type, bucket) agg over ~40 buckets."""
    ev = load(spark, d, "events")
    seq = ev.select(
        "event_type",
        F.expr(
            "unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id)"
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    # bucket = bit length of (gap_minutes + 1) via bin() string length
    # — exact integers on both engines, no float log2
    binned = seq.select(
        "event_type",
        F.expr(
            "cast(CASE WHEN gap_us <= 0 THEN 0"
            " ELSE length(bin(gap_us div 60000000 + 1))"
            " END as bigint)"
        ).alias("bucket"),
    )
    return (
        binned.groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------------
# Deterministic reservoir-equivalent sampling (k-min hash per group)
# --------------------------------------------------------------------------
#
# The distributed replacement for driver-side reservoir sampling: the
# k docs with the smallest h56('rsv:' || doc_id) per source ARE a
# uniform k-sample (the hash induces a random permutation), fully
# mergeable (min-k of a union = min-k of min-ks — KMV algebra), and
# reproducible across engines. Spark's WindowGroupLimit pushes the
# rank filter into the per-group sort, so no group ever fully sorts.

_RSV_K = 5

_RSV_ORACLE = f"""
    WITH hashed AS (
      SELECT source, doc_id,
             {sql_h56("'rsv:' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, h,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY h, doc_id)
                  AS BIGINT) AS rnk
      FROM hashed
    )
    SELECT source, rnk, doc_id, h
    FROM ranked WHERE rnk <= {_RSV_K}
    ORDER BY source, rnk
"""


@query("q_sample_reservoir", oracle=_RSV_ORACLE)
def q_sample_reservoir(spark, d):
    """Uniform k-per-group sample via k-min portable hash (module
    comment) — the mergeable, engine-reproducible reservoir."""
    docs = load(spark, d, "documents")
    hashed = docs.select(
        "source",
        "doc_id",
        h56("concat('rsv:', cast(doc_id as string))").alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        hashed.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _RSV_K)
        .select("source", "rnk", "doc_id", "h")
        .orderBy("source", "rnk")
    )


# --------------------------------------------------------------------------
# Fact-vs-rollup reconciliation audit
# --------------------------------------------------------------------------
#
# The referential-CONSISTENCY row of the DQ suite (q_dq_orphans covers
# existence): does orders.o_totalprice equal the lineitem rollup
# Σ extendedprice·(1−discount)·(1+tax)? Both sides quantize to exact
# integer cents through the decimal path; the audit reports the
# mismatch distribution (match / small drift / large drift / no
# lines) — at 100 TB this is one fact-spine join and a combinable
# histogram.

_RECONCILE_ORACLE = """
    WITH rollup_ AS (
      SELECT l_orderkey,
             CAST(floor(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) AS DECIMAL(30,10)))
                        * 100) AS BIGINT) AS line_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    audited AS (
      SELECT o.o_orderkey,
             CAST(floor(CAST(o.o_totalprice AS DECIMAL(30,10)) * 100)
                  AS BIGINT) AS order_cents,
             r.line_cents
      FROM orders o LEFT JOIN rollup_ r ON r.l_orderkey = o.o_orderkey
    ),
    classed AS (
      SELECT CASE
               WHEN line_cents IS NULL THEN 'no_lines'
               WHEN ABS(order_cents - line_cents) <= 1 THEN 'match'
               WHEN ABS(order_cents - line_cents) <= 100 THEN 'drift_cents'
               ELSE 'drift_large'
             END AS status,
             COALESCE(ABS(order_cents - line_cents), 0) AS adev
      FROM audited
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(adev) AS BIGINT) AS total_abs_dev_cents,
           CAST(MAX(adev) AS BIGINT) AS max_abs_dev_cents
    FROM classed
    GROUP BY status
    ORDER BY status
"""


@query("q_dq_reconcile", oracle=_RECONCILE_ORACLE)
def q_dq_reconcile(spark, d):
    """orders.o_totalprice vs lineitem rollup, classified into a
    4-bucket mismatch histogram (module comment). One combinable
    rollup agg + one fact-spine left join + one 4-row histogram."""
    li = load(spark, d, "lineitem")
    rollup = li.groupBy("l_orderkey").agg(
        F.floor(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast(DEC)
            )
            * 100
        )
        .cast("long")
        .alias("line_cents")
    )
    orders = load(spark, d, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice").cast(DEC) * 100)
        .cast("long")
        .alias("order_cents"),
    )
    audited = orders.join(
        rollup.withColumnRenamed("l_orderkey", "o_orderkey"),
        "o_orderkey",
        "left",
    )
    classed = audited.selectExpr(
        "CASE WHEN line_cents IS NULL THEN 'no_lines'"
        " WHEN ABS(order_cents - line_cents) <= 1 THEN 'match'"
        " WHEN ABS(order_cents - line_cents) <= 100 THEN 'drift_cents'"
        " ELSE 'drift_large' END AS status",
        "coalesce(ABS(order_cents - line_cents), 0L) AS adev",
    )
    return (
        classed.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("adev").cast("long").alias("total_abs_dev_cents"),
            F.max("adev").cast("long").alias("max_abs_dev_cents"),
        )
        .orderBy("status")
    )
