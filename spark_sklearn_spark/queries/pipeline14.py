"""Round-8 continuation batch C: classical decomposition, Markov
steady-state, quantile-loss forecast eval, graph clustering
coefficients, and declared cross-validation stability.

New keys (SURVEY.md §2B):
- q_ts_stl          — additive trend/seasonal/remainder decomposition
- q_behavior_markov — transition-matrix steady state, unrolled power steps
- q_ml_pinball      — quantile (pinball) loss of the seasonal-naive forecast
- q_graph_clustcoeff— per-node clustering coefficient distribution
- q_ml_cv_stability — 5-fold OLS coefficient stability in ONE scan

All declared; r8 output policy throughout (BIGINT micro/ppm, decimal
pre-quantized sums, HUGEINT casts).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import h56
from .behavior import TRANSITIONS_CTES, transitions
from .bigrams import NEAR_DUP_DEG_CTES, degrees, near_dup_edges

# --------------------------------------------------------------------------
# Additive decomposition (trend + weekday seasonal + remainder)
# --------------------------------------------------------------------------
#
# The classical STL-style pass before any anomaly gate: trend =
# centered 7-day mean, seasonal = per-ISO-dow mean of the detrended
# series, remainder = the rest. Window sums run over DECIMAL-
# quantized terms (CLAUDE.md: DuckDB's segment-tree window addition
# order differs from Spark's running accumulation — decimal makes
# both exact), divisions and subtractions are then identical-operand
# IEEE ops, and outputs leave micro-floored. Everything past the
# daily collapse is calendar-grain.

_STL_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(isodow(date_trunc('day', ts)) AS BIGINT) AS dow,
             CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS rev
      FROM events
      GROUP BY event_type, day, dow
    ),
    trended AS (
      SELECT event_type, day, dow, rev,
             CAST(SUM(CAST(rev AS DECIMAL(30,10))) OVER w AS DOUBLE)
                 / 7.0 AS trend,
             COUNT(*) OVER w AS w_n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    inner_ AS (SELECT * FROM trended WHERE w_n = 7),
    seasonal AS (
      SELECT event_type, dow,
             CAST(SUM(CAST(rev - trend AS DECIMAL(30,10))) AS DOUBLE)
                 / COUNT(*) AS seas
      FROM inner_
      GROUP BY event_type, dow
    )
    SELECT i.event_type, i.day,
           CAST(floor(i.rev * 1000000.0) AS BIGINT) AS rev_micro,
           CAST(floor(i.trend * 1000000.0) AS BIGINT) AS trend_micro,
           CAST(floor(s.seas * 1000000.0) AS BIGINT) AS seasonal_micro,
           CAST(floor((i.rev - i.trend - s.seas) * 1000000.0)
                AS BIGINT) AS remainder_micro
    FROM inner_ i
    JOIN seasonal s ON s.event_type = i.event_type AND s.dow = i.dow
    ORDER BY i.event_type, i.day
"""


@query("q_ts_stl", oracle=_STL_ORACLE)
def q_ts_stl(spark, d):
    """Additive trend/seasonal/remainder decomposition of daily
    revenue per event type (module comment for the exactness
    argument). One corpus hash agg to the calendar grain; the
    centered window, the per-dow seasonal agg, and the broadcast-back
    join all run on calendar-bounded relations."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        (((F.dayofweek(F.date_trunc("day", "ts")) + 5) % 7) + 1)
        .cast("long")
        .alias("dow"),
    ).agg(
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("rev")
    )
    w = (
        "PARTITION BY event_type ORDER BY day"
        " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING"
    )
    trended = daily.selectExpr(
        "event_type",
        "day",
        "dow",
        "rev",
        f"cast(sum(cast(rev as decimal(30,10))) OVER ({w}) as double)"
        " / 7.0d AS trend",
        f"count(1) OVER ({w}) AS w_n",
    ).filter(F.col("w_n") == 7)
    seasonal = trended.groupBy("event_type", "dow").agg(
        (
            F.sum(
                (F.col("rev") - F.col("trend")).cast("decimal(30,10)")
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("seas")
    )
    return (
        trended.join(F.broadcast(seasonal), ["event_type", "dow"])
        .selectExpr(
            "event_type",
            "day",
            "cast(floor(rev * 1000000.0d) as bigint) AS rev_micro",
            "cast(floor(trend * 1000000.0d) as bigint) AS trend_micro",
            "cast(floor(seas * 1000000.0d) as bigint) AS seasonal_micro",
            "cast(floor((rev - trend - seas) * 1000000.0d) as bigint)"
            " AS remainder_micro",
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Markov steady state of the event-transition matrix
# --------------------------------------------------------------------------
#
# q_behavior_transitions builds P; this asks what P converges to —
# the long-run attention share per event type. Three power-iteration
# steps unroll from the uniform start over the |types|²-bounded
# matrix: each step's terms v_a · (c_ab / r_a) quantize to
# DECIMAL(30,10) pre-sum (the pagerank-promotion construction), so
# every iterate is order-independent and the whole trajectory is
# hash-checked. Everything past the one window shuffle is
# grid-sized.

_MARKOV_STEPS = 3


def _markov_oracle() -> str:
    steps = []
    prev = "v0"
    for s in range(1, _MARKOV_STEPS + 1):
        steps.append(f"""v{s} AS (
          SELECT t.nxt AS event_type,
                 CAST(SUM(CAST(v.p * (t.c / (1.0 * r.r))
                               AS DECIMAL(30,10))) AS DOUBLE) AS p
          FROM trans t
          JOIN rowsum r ON r.event_type = t.event_type
          JOIN {prev} v ON v.event_type = t.event_type
          GROUP BY t.nxt
        )""")
        prev = f"v{s}"
    sel = ", ".join(
        f"CAST(floor(v{s}.p * 1000000.0) AS BIGINT) AS p{s}_micro"
        for s in range(1, _MARKOV_STEPS + 1)
    )
    joins = " ".join(
        f"JOIN v{s} ON v{s}.event_type = v1.event_type"
        for s in range(2, _MARKOV_STEPS + 1)
    )
    return f"""
        WITH {TRANSITIONS_CTES},
        rowsum AS (
          SELECT event_type, CAST(SUM(c) AS BIGINT) AS r FROM trans
          GROUP BY event_type
        ),
        types AS (SELECT DISTINCT event_type FROM trans),
        n_types AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
        v0 AS (
          SELECT t.event_type, 1.0 / n.k AS p
          FROM types t CROSS JOIN n_types n
        ),
        {", ".join(steps)}
        SELECT v1.event_type, {sel}
        FROM v1 {joins}
        ORDER BY v1.event_type
    """


@query("q_behavior_markov", oracle=_markov_oracle())
def q_behavior_markov(spark, d):
    """Steady-state trajectory of the event-type transition chain,
    three unrolled power steps (module comment). One user-partitioned
    lead() window is the only corpus shuffle; the matrix, row sums,
    and every iterate are |event_types|-bounded relations."""
    trans = transitions(spark, d)
    rowsum = trans.groupBy("event_type").agg(F.sum("c").alias("r"))
    types = trans.select("event_type").distinct()
    k = types.agg(F.count(F.lit(1)).alias("k"))
    v = types.crossJoin(F.broadcast(k)).selectExpr(
        "event_type", "1.0d / k AS p"
    )
    iterates = []
    base = trans.join(F.broadcast(rowsum), "event_type")
    for _ in range(_MARKOV_STEPS):
        v = (
            base.join(F.broadcast(v), "event_type")
            .selectExpr(
                "nxt",
                "cast(p * (c / (1.0d * r)) as decimal(30,10)) AS term",
            )
            .groupBy("nxt")
            .agg(F.sum("term").cast("double").alias("p"))
            .withColumnRenamed("nxt", "event_type")
        )
        iterates.append(v)
    out = iterates[0].selectExpr(
        "event_type",
        "cast(floor(p * 1000000.0d) as bigint) AS p1_micro",
    )
    for s, it in enumerate(iterates[1:], start=2):
        out = out.join(
            it.selectExpr(
                "event_type",
                f"cast(floor(p * 1000000.0d) as bigint) AS p{s}_micro",
            ),
            "event_type",
        )
    return out.orderBy("event_type")


# --------------------------------------------------------------------------
# Pinball (quantile) loss of the seasonal-naive forecast
# --------------------------------------------------------------------------
#
# q_ts_backtest reports absolute error; production forecast evals
# grade QUANTILE calibration with pinball loss
# L_q(y,f) = max(q·(y−f), (q−1)·(y−f)). The forecast is the same
# seasonal-naive (training mean per ISO dow over the pre-holdout
# days); losses at q ∈ {0.1, 0.5, 0.9} quantize per-day to
# DECIMAL(30,10) and sum exactly. Everything past the daily collapse
# is a ≤7-row-per-q relation.

_PINBALL_ORACLE = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(isodow(date_trunc('day', ts)) AS BIGINT) AS dow,
             CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS rev
      FROM events
      GROUP BY day, dow
    ),
    bounds AS (SELECT MAX(day) AS last_day FROM daily),
    train AS (
      SELECT d.dow,
             CAST(SUM(CAST(d.rev AS DECIMAL(30,10))) AS DOUBLE)
                 / COUNT(*) AS f
      FROM daily d CROSS JOIN bounds b
      WHERE d.day < b.last_day - INTERVAL 6 DAY
      GROUP BY d.dow
    ),
    holdout AS (
      SELECT d.day, d.dow, d.rev
      FROM daily d CROSS JOIN bounds b
      WHERE d.day >= b.last_day - INTERVAL 6 DAY
    ),
    qs AS (SELECT unnest([100000, 500000, 900000]) AS q_ppm),
    losses AS (
      SELECT q.q_ppm,
             CAST(
               CASE WHEN (h.rev - t.f) >= 0
                    THEN (q.q_ppm / 1000000.0) * (h.rev - t.f)
                    ELSE ((q.q_ppm / 1000000.0) - 1.0) * (h.rev - t.f)
               END AS DECIMAL(30,10)) AS loss
      FROM holdout h
      JOIN train t ON t.dow = h.dow
      CROSS JOIN qs q
    )
    SELECT q_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(floor(CAST(SUM(loss) AS DOUBLE) * 1000000.0) AS BIGINT)
               AS total_loss_micro
    FROM losses
    GROUP BY q_ppm
    ORDER BY q_ppm
"""


@query("q_ml_pinball", oracle=_PINBALL_ORACLE)
def q_ml_pinball(spark, d):
    """Pinball loss of the seasonal-naive forecast at q=0.1/0.5/0.9
    (module comment). One daily collapse; train means, the 7-day
    holdout, and the 21 loss cells are all calendar-bounded."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        (((F.dayofweek(F.date_trunc("day", "ts")) + 5) % 7) + 1)
        .cast("long")
        .alias("dow"),
    ).agg(
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("rev")
    )
    bounds = daily.agg(F.max("day").alias("last_day"))
    with_b = daily.crossJoin(F.broadcast(bounds))
    train = (
        with_b.filter(
            F.col("day") < F.expr("last_day - INTERVAL 6 DAY")
        )
        .groupBy("dow")
        .agg(
            (
                F.sum(F.col("rev").cast("decimal(30,10)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("f")
        )
    )
    holdout = with_b.filter(
        F.col("day") >= F.expr("last_day - INTERVAL 6 DAY")
    ).select("day", "dow", "rev")
    qs = spark.range(0, 3).selectExpr(
        "element_at(array(100000L, 500000L, 900000L), cast(id + 1 as int))"
        " AS q_ppm"
    )
    losses = (
        holdout.join(F.broadcast(train), "dow")
        .crossJoin(F.broadcast(qs))
        .selectExpr(
            "q_ppm",
            "cast(CASE WHEN (rev - f) >= 0"
            " THEN (q_ppm / 1000000.0d) * (rev - f)"
            " ELSE ((q_ppm / 1000000.0d) - 1.0d) * (rev - f) END"
            " as decimal(30,10)) AS loss",
        )
    )
    return (
        losses.groupBy("q_ppm")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr(
                "cast(floor(cast(sum(loss) as double) * 1000000.0d)"
                " as bigint)"
            ).alias("total_loss_micro"),
        )
        .orderBy("q_ppm")
    )


# --------------------------------------------------------------------------
# Clustering-coefficient distribution of the near-dup graph
# --------------------------------------------------------------------------
#
# Completes the graph-health suite (degree → triangles → components →
# k-core → BFS): per-node clustering coefficient
# cc(u) = 2·T(u) / (deg(u)·(deg(u)−1)), reported as the mean cc per
# degree (the degree-cc curve community detection reads). Triangles
# come from the oriented wedge-closure enumeration (q_graph_triangles
# machinery) exploded to member nodes; degrees from the symmetric
# edge agg; cc is integer ppm. Everything rides the memoized edge
# snapshot.


_CLUSTCOEFF_ORACLE = f"""
        WITH {NEAR_DUP_DEG_CTES},
        tris AS MATERIALIZED (
            SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
            FROM edges0 e1
            JOIN edges0 e2 ON e2.doc_a = e1.doc_b
            JOIN edges0 e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        ),
        tri_nodes AS (
            SELECT a AS doc_id FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ),
        t_cnt AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS t
            FROM tri_nodes GROUP BY doc_id
        ),
        cc AS (
            SELECT d.doc_id, d.dg,
                   (2 * COALESCE(t.t, 0) * 1000000)
                       // (d.dg * (d.dg - 1)) AS cc_ppm
            FROM deg d LEFT JOIN t_cnt t ON t.doc_id = d.doc_id
            WHERE d.dg >= 2
        )
        SELECT dg AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(cc_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                   AS mean_cc_ppm,
               CAST(SUM(CASE WHEN cc_ppm = 1000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cliquelike
        FROM cc
        GROUP BY dg
        ORDER BY dg
"""


@query("q_graph_clustcoeff", oracle=_CLUSTCOEFF_ORACLE)
def q_graph_clustcoeff(spark, d):
    """Degree-vs-clustering-coefficient curve of the near-dup graph
    (module comment). Triangle explode + two bounded aggs + one
    left join on the snapshot-sized node relations; cc is integer
    ppm so the curve is hash-exact."""
    edges = near_dup_edges(spark, d).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).localCheckpoint()
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tris = (
        e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    )
    tri_nodes = (
        tris.select(F.col("a").alias("doc_id"))
        .unionAll(tris.select(F.col("b").alias("doc_id")))
        .unionAll(tris.select(F.col("c").alias("doc_id")))
    )
    t_cnt = tri_nodes.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("t")
    )
    deg = degrees(edges, "u", "v")
    cc = (
        deg.filter(F.col("dg") >= 2)
        .join(t_cnt, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "dg",
            "(2 * coalesce(t, 0L) * 1000000L)"
            " div (dg * (dg - 1)) AS cc_ppm",
        )
    )
    return (
        cc.groupBy(F.col("dg").alias("degree"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.expr("sum(cc_ppm) div count(1)").alias("mean_cc_ppm"),
            F.sum(
                F.when(F.col("cc_ppm") == 1_000_000, 1).otherwise(0)
            ).alias("n_cliquelike"),
        )
        .orderBy("degree")
    )


# --------------------------------------------------------------------------
# Declared k-fold cross-validation stability
# --------------------------------------------------------------------------
#
# The reference's whole reason to exist is distributed CV
# (GridSearchCV, SURVEY §2A A1) — rows-only there because MLlib
# metrics are engine-defined. This is the DECLARED bridge: 5 folds
# assigned by the portable hash, a closed-form OLS slope/intercept
# per fold from exact decimal moments (the q_ml_linear_ols
# construction), and the cross-fold stability spread — model
# variance across folds as a hash-checked quantity. ONE scan fills
# all folds' moments (fold is just a group key); no per-fold rescans,
# no driver loop — exactly how distributed CV should shard.

_CV_ORACLE = """
    WITH feats AS (
      SELECT (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
                  || CAST(l_linenumber AS VARCHAR)), 1, 14))::BIGINT)
                 % 5 AS fold,
             l_quantity AS x, l_extendedprice AS y
      FROM lineitem
    ),
    moments AS (
      SELECT fold,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(30,10))) AS DOUBLE) AS sxy
      FROM feats GROUP BY fold
    ),
    fits AS (
      SELECT fold, n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                 AS icept
      FROM moments
    )
    SELECT fold, n,
           CAST(floor(slope * 1000000.0) AS BIGINT) AS slope_micro,
           CAST(floor(icept * 1000000.0) AS BIGINT) AS icept_micro,
           CAST(MAX(floor(slope * 1000000.0)) OVER ()
                - MIN(floor(slope * 1000000.0)) OVER () AS BIGINT)
               AS slope_spread_micro
    FROM fits
    ORDER BY fold
"""


@query("q_ml_cv_stability", oracle=_CV_ORACLE)
def q_ml_cv_stability(spark, d):
    """5-fold OLS coefficient stability in one scan (module comment
    for the CV-sharding argument). Fold = portable hash mod 5 as a
    GROUP KEY — all folds' decimal moments fill simultaneously; the
    fits and the spread run on the 5-row relation. spread=True
    parallelizes the per-row md5 fold hash + decimal partials across
    cores (r17: single-row-group fixture ran them in one scan task —
    2.5 s → 1.0 s at sf0.1; no-op on splittable inputs)."""
    li = load(spark, d, "lineitem", spread=True)
    key = "cast(l_orderkey as string) || '|' || cast(l_linenumber as string)"
    feats = li.select(
        (h56(key) % 5).alias("fold"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    moments = feats.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(30,10)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.col("y").cast("decimal(30,10)"))
        .cast("double")
        .alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,10)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,10)"))
        .cast("double")
        .alias("sxy"),
    )
    fits = moments.selectExpr(
        "fold",
        "n",
        "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope",
        "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n"
        " AS icept",
    )
    return fits.selectExpr(
        "fold",
        "n",
        "cast(floor(slope * 1000000.0d) as bigint) AS slope_micro",
        "cast(floor(icept * 1000000.0d) as bigint) AS icept_micro",
        "cast(max(floor(slope * 1000000.0d)) OVER ()"
        " - min(floor(slope * 1000000.0d)) OVER () as bigint)"
        " AS slope_spread_micro",
    ).orderBy("fold")
