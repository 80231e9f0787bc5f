"""Round-9 batch: PCA scores, changepoint detection, WOE encoding,
neighborhood Jaccard, Hurst R/S, absorbing-chain probabilities,
Simpson diversity, bucketed range join, and minhash-containment eval.

New keys (SURVEY.md §2B — added to the extension table this round):
- q_emb_pca_topk       — top-20 |projection| onto the fitted PC1 iterate
- q_ts_changepoint     — CUSUM argmax changepoint per event type
- q_feat_woe           — weight-of-evidence + IV terms per category
- q_graph_jaccard_nbrs — neighborhood Jaccard per near-dup edge
- q_ts_hurst           — rescaled-range (R) Hurst estimate, 2-point slope
- q_behavior_absorbing — P(absorb into purchase within k steps), unrolled
- q_text_simpson       — Simpson diversity / repeat-pair index per source
- q_join_range_bucket  — non-equi band join via bucket-key equi-join
- q_text_minhash_containment — minhash-estimated vs exact Jaccard and
  containment per near-dup candidate pair

All declared; r8 output policy (BIGINT micro/ppm/ppb, decimal
pre-quantized sums, HUGEINT casts, floor-before-integer-cast, paired
truncating div). No reference-engine counterpart exists
(/root/reference is empty); semantics follow the public operator
definitions (Kulldorff CUSUM, Siddiqi WOE/IV, Hurst 1951 R/S,
Broder 1997 minhash resemblance/containment).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.lsh import min_signature
from ..registry import query
from ..sources.io import load
from ._helpers import DEC, h56, sql_h56
from .behavior import (
    DAY_REVENUE_CTE,
    TRANSITIONS_CTES,
    TYPE_DAY_REVENUE_CTE,
    day_revenue,
    transitions,
)
from .bigrams import (
    BIGRAM_PAIRS_CTES,
    NEAR_DUP_DEG_CTES,
    NEAR_DUP_TAU,
    bigram_overlap,
    near_dup_edges,
    rare_grams,
)

# --------------------------------------------------------------------------
# PCA scores: top-20 documents by |projection| onto the fitted PC1
# --------------------------------------------------------------------------
#
# q_emb_pca_power pins the DIRECTION; this pins the SCORES — the other
# half of a PCA: project every centered quantized vector onto the
# final renormalized iterate (integer dot product), rank by |proj|.
# The projection is one broadcast join of the 64-row iterate + a
# combinable per-vec sum; top-20 is TakeOrderedAndProject. Ties break
# on vec_id, and every quantity is int64-exact, so the ranking cannot
# drift by a ulp.

_TOPK_K = 20


def _pca_topk_oracle() -> str:
    from .pca_power import PP_ROUNDS, pca_with_body

    return f"""
        WITH {pca_with_body()},
        proj AS (
          SELECT c.vec_id,
                 CAST(SUM(c.c * v.v) AS BIGINT) AS proj
          FROM cent c JOIN v{PP_ROUNDS} v ON v.i = c.i
          GROUP BY c.vec_id
        ),
        ranked AS (
          SELECT vec_id, proj,
                 ROW_NUMBER() OVER (ORDER BY ABS(proj) DESC, vec_id)
                     AS rnk
          FROM proj
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, proj
        FROM ranked WHERE rnk <= {_TOPK_K}
        ORDER BY rnk
    """


@query("q_emb_pca_topk", oracle=_pca_topk_oracle())
def q_emb_pca_topk(spark, d):
    """Top-{k} PCA scores (module comment): integer projection of each
    centered vector onto the broadcast 64-row final iterate, |proj|
    ranking with vec_id tie-break. Plan: the power_fit Gram/iterate
    stages (shared with q_emb_pca_power) + one combinable projection
    agg + TakeOrderedAndProject — no new corpus shuffle beyond the
    fit's own."""
    from .pca_power import power_fit

    cent, _, iterates = power_fit(spark, d)
    v = iterates[-1]
    proj = (
        cent.join(F.broadcast(v), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("c") * F.col("v")).alias("proj"))
    )
    w = Window.orderBy(F.abs(F.col("proj")).desc(), F.col("vec_id"))
    return (
        proj.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _TOPK_K)
        .select("rnk", "vec_id", "proj")
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# CUSUM argmax changepoint per event type
# --------------------------------------------------------------------------
#
# The detection step after q_ts_cusum's monitoring statistic: the
# single most likely level-shift day = argmax |cusum of deviations
# from the series mean| (the classic offline CUSUM estimator). Daily
# revenue quantizes to exact micro ints at the collapse, the mean is
# a truncating integer div (paired `div`/`//`), the cusum is an
# integer window sum, and the argmax tie-breaks to the earliest day
# via min_by — every step int64-exact. Everything past the one corpus
# collapse is calendar-grain.

_CHANGEPOINT_ORACLE = f"""
    WITH {TYPE_DAY_REVENUE_CTE},
    stats AS (
      SELECT event_type,
             CAST(SUM(rev_micro) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM daily GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day, d.rev_micro,
             d.rev_micro - (st.s // st.n) AS dv,
             st.n AS n_days
      FROM daily d JOIN stats st ON st.event_type = d.event_type
    ),
    cus AS (
      SELECT event_type, day, n_days,
             CAST(SUM(dv) OVER (PARTITION BY event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cusum
      FROM dev
    ),
    mx AS (
      SELECT event_type, day, n_days, cusum,
             MAX(ABS(cusum)) OVER (PARTITION BY event_type) AS m
      FROM cus
    ),
    cp AS (
      SELECT event_type,
             ANY_VALUE(n_days) AS n_days,
             MIN(day) AS cp_day,
             MIN_BY(cusum, day) AS cusum_at_cp
      FROM mx WHERE ABS(cusum) = m
      GROUP BY event_type
    )
    SELECT c.event_type, c.n_days, c.cp_day, c.cusum_at_cp,
           CAST(SUM(CASE WHEN d.day <= c.cp_day THEN d.rev_micro END)
                // SUM(CASE WHEN d.day <= c.cp_day THEN 1 END)
                AS BIGINT) AS pre_mean_micro,
           CAST(COALESCE(
                SUM(CASE WHEN d.day > c.cp_day THEN d.rev_micro END)
                // SUM(CASE WHEN d.day > c.cp_day THEN 1 END), 0)
                AS BIGINT) AS post_mean_micro
    FROM cp c JOIN daily d ON d.event_type = c.event_type
    GROUP BY c.event_type, c.n_days, c.cp_day, c.cusum_at_cp
    ORDER BY c.event_type
"""


@query("q_ts_changepoint", oracle=_CHANGEPOINT_ORACLE)
def q_ts_changepoint(spark, d):
    """Offline CUSUM changepoint per event type (module comment): one
    corpus collapse to exact daily micro ints, then mean/dev/cusum/
    argmax and the pre/post level means all on the calendar-bounded
    relation. min_by over the unique day key makes the tie-break
    deterministic on both engines."""
    daily = day_revenue(spark, d, by=("event_type",))
    stats = daily.groupBy("event_type").agg(
        F.sum("rev_micro").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dev = daily.join(F.broadcast(stats), "event_type").selectExpr(
        "event_type",
        "day",
        "rev_micro",
        "rev_micro - (s div n) AS dv",
        "n AS n_days",
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cus = dev.select(
        "event_type",
        "day",
        "n_days",
        F.sum("dv").over(w_cum).alias("cusum"),
    )
    mx = cus.withColumn(
        "m", F.max(F.abs(F.col("cusum"))).over(Window.partitionBy("event_type"))
    )
    cp = (
        mx.filter(F.abs(F.col("cusum")) == F.col("m"))
        .groupBy("event_type")
        .agg(
            F.any_value("n_days").alias("n_days"),
            F.min("day").alias("cp_day"),
            F.expr("min_by(cusum, day)").alias("cusum_at_cp"),
        )
    )
    return (
        F.broadcast(cp)
        .join(daily, "event_type")
        .groupBy("event_type", "n_days", "cp_day", "cusum_at_cp")
        .agg(
            F.expr(
                "sum(CASE WHEN day <= cp_day THEN rev_micro END)"
                " div sum(CASE WHEN day <= cp_day THEN 1 END)"
            ).alias("pre_mean_micro"),
            F.expr(
                "coalesce(sum(CASE WHEN day > cp_day THEN rev_micro END)"
                " div sum(CASE WHEN day > cp_day THEN 1 END), 0L)"
            ).alias("post_mean_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Weight-of-evidence encoding + information value
# --------------------------------------------------------------------------
#
# The supervised twin of q_feat_target_encode: WOE(cat) =
# ln(P(cat|pos) / P(cat|neg)) with IV_term = (P(cat|pos) −
# P(cat|neg))·WOE — the credit-scoring standard for monotone
# categorical encoding. Label = order status 'F' (fulfilled), category = order priority. Counts are
# exact integers; the ln argument is ONE ratio of exact-int products
# ((pos·neg_tot)/(neg·pos_tot)) built identically on both engines, so
# the double is bit-identical (identical-operand IEEE ops — the
# ln_micro canary primitive), and outputs leave micro/nano-floored.

_WOE_ORACLE = """
    WITH lab AS (
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS neg
      FROM orders
      GROUP BY o_orderpriority
    ),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS pos_tot,
             CAST(SUM(neg) AS BIGINT) AS neg_tot
      FROM lab
    )
    SELECT l.o_orderpriority, l.pos, l.neg,
           CAST(floor(ln((CAST(l.pos AS DOUBLE) * t.neg_tot)
                         / (CAST(l.neg AS DOUBLE) * t.pos_tot))
                      * 1000000.0) AS BIGINT) AS woe_micro,
           CAST(floor((CAST(l.pos AS DOUBLE) / t.pos_tot
                       - CAST(l.neg AS DOUBLE) / t.neg_tot)
                      * ln((CAST(l.pos AS DOUBLE) * t.neg_tot)
                           / (CAST(l.neg AS DOUBLE) * t.pos_tot))
                      * 1000000000.0) AS BIGINT) AS iv_term_nano
    FROM lab l CROSS JOIN tot t
    WHERE l.pos > 0 AND l.neg > 0
    ORDER BY l.o_orderpriority
"""


@query("q_feat_woe", oracle=_WOE_ORACLE)
def q_feat_woe(spark, d):
    """WOE + IV terms per order priority (module comment). One combinable
    label-count agg, a broadcast 1-row totals join, and identical-
    operand ln/multiply chains floored to micro/nano ints."""
    orders = load(spark, d, "orders")
    lab = orders.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("pos"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 0).otherwise(1))
        .cast("long")
        .alias("neg"),
    )
    tot = lab.agg(
        F.sum("pos").alias("pos_tot"), F.sum("neg").alias("neg_tot")
    )
    return (
        lab.crossJoin(F.broadcast(tot))
        .filter((F.col("pos") > 0) & (F.col("neg") > 0))
        .selectExpr(
            "o_orderpriority",
            "pos",
            "neg",
            "cast(floor(ln((cast(pos as double) * neg_tot)"
            " / (cast(neg as double) * pos_tot)) * 1000000.0d)"
            " as bigint) AS woe_micro",
            "cast(floor((cast(pos as double) / pos_tot"
            " - cast(neg as double) / neg_tot)"
            " * ln((cast(pos as double) * neg_tot)"
            " / (cast(neg as double) * pos_tot))"
            " * 1000000000.0d) as bigint) AS iv_term_nano",
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Neighborhood Jaccard per near-dup edge (link-prediction feature)
# --------------------------------------------------------------------------
#
# For each edge (u,v) of the near-dup graph: J_N(u,v) =
# |N(u)∩N(v)| / (deg(u)+deg(v)−|N(u)∩N(v)|) — the classic
# link-prediction / community-strength feature. Common neighbors
# come from a wedge equi-join anchored ON the edge set (never
# node×node), degrees from the symmetric edge agg; the ratio is
# integer ppm. Everything rides the memoized edge snapshot.


_JACCARD_NBRS_ORACLE = f"""
        WITH {NEAR_DUP_DEG_CTES},
        common AS (
            SELECT e.doc_a, e.doc_b, CAST(COUNT(*) AS BIGINT) AS cn
            FROM edges0 e
            JOIN sym a ON a.src = e.doc_a
            JOIN sym b ON b.src = e.doc_b AND b.dst = a.dst
            GROUP BY e.doc_a, e.doc_b
        )
        SELECT e.doc_a AS doc_a, e.doc_b AS doc_b,
               da.dg AS deg_a, db.dg AS deg_b,
               COALESCE(c.cn, 0) AS n_common,
               CAST((COALESCE(c.cn, 0) * 1000000)
                    // (da.dg + db.dg - COALESCE(c.cn, 0)) AS BIGINT)
                   AS nbr_jacc_ppm
        FROM edges0 e
        JOIN deg da ON da.doc_id = e.doc_a
        JOIN deg db ON db.doc_id = e.doc_b
        LEFT JOIN common c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
        ORDER BY doc_a, doc_b
"""


@query("q_graph_jaccard_nbrs", oracle=_JACCARD_NBRS_ORACLE)
def q_graph_jaccard_nbrs(spark, d):
    """Neighborhood Jaccard per edge (module comment): wedge join
    anchored on the edge set, degree agg, ppm ratio — all on the
    memoized snapshot-sized relations."""
    edges = (
        near_dup_edges(spark, d)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .localCheckpoint()
    )
    adj = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("dg")
    )
    a = adj.select(F.col("src").alias("u"), F.col("dst"))
    b = adj.select(F.col("src").alias("v"), F.col("dst"))
    common = (
        edges.join(a, "u").join(b, ["v", "dst"]).groupBy("u", "v").agg(
            F.count(F.lit(1)).alias("cn")
        )
    )
    da = deg.select(F.col("doc_id").alias("u"), F.col("dg").alias("deg_a"))
    db = deg.select(F.col("doc_id").alias("v"), F.col("dg").alias("deg_b"))
    return (
        edges.join(da, "u")
        .join(db, "v")
        .join(common, ["u", "v"], "left")
        .selectExpr(
            "u AS doc_a",
            "v AS doc_b",
            "deg_a",
            "deg_b",
            "coalesce(cn, 0L) AS n_common",
            "cast((coalesce(cn, 0L) * 1000000L)"
            " div (deg_a + deg_b - coalesce(cn, 0L)) as bigint)"
            " AS nbr_jacc_ppm",
        )
        .orderBy("doc_a", "doc_b")
    )

# --------------------------------------------------------------------------
# Hurst rescaled-range estimate of daily revenue
# --------------------------------------------------------------------------
#
# Long-range-dependence diagnostic (Hurst 1951 R/S, range-only
# variant): slice the daily series into complete blocks of m days for
# m in {3, 6, 12} (the fixture spans 30 days at every sf); per block, R = max−min of the within-block cusum
# of deviations from the block mean. Revenue quantizes to micro ints
# at the collapse, block means are truncating int divs, cusums are
# integer window sums — every R is int64-exact. The Hurst slope is a
# two-point log-log fit between m=3 and m=12: ln of identical exact
# integers is bit-identical (the ln_micro canary primitive).
# Everything past the one corpus collapse is calendar-grain.

_HURST_MS = (3, 6, 12)

_HURST_ORACLE = f"""
    WITH {DAY_REVENUE_CTE},
    seq AS (
      SELECT day, rev_micro,
             ROW_NUMBER() OVER (ORDER BY day) - 1 AS t
      FROM daily
    ),
    ms AS (SELECT unnest([{", ".join(str(m) for m in _HURST_MS)}]) AS m),
    blocks AS (
      SELECT ms.m, s.t // ms.m AS blk, s.t, s.rev_micro
      FROM seq s CROSS JOIN ms
    ),
    full_blocks AS (
      SELECT m, blk,
             CAST(SUM(rev_micro) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM blocks GROUP BY m, blk
      HAVING COUNT(*) = m
    ),
    devs AS (
      SELECT b.m, b.blk, b.t,
             b.rev_micro - (f.s // f.n) AS dv
      FROM blocks b
      JOIN full_blocks f ON f.m = b.m AND f.blk = b.blk
    ),
    cus AS (
      SELECT m, blk,
             CAST(SUM(dv) OVER (PARTITION BY m, blk ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS c
      FROM devs
    ),
    ranges AS (
      SELECT m, blk,
             CAST(MAX(c) - MIN(c) AS BIGINT) AS r
      FROM cus GROUP BY m, blk
    ),
    per_m AS (
      SELECT m,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(r) // COUNT(*) AS BIGINT) AS mean_r_micro
      FROM ranges GROUP BY m
    )
    SELECT CAST(m AS BIGINT) AS m, n_blocks, mean_r_micro,
           CAST(floor((ln(CAST(MAX(CASE WHEN m = {_HURST_MS[-1]}
                                        THEN mean_r_micro END) OVER ()
                              AS DOUBLE))
                       - ln(CAST(MAX(CASE WHEN m = {_HURST_MS[0]}
                                          THEN mean_r_micro END) OVER ()
                                AS DOUBLE)))
                      / ln(4.0) * 1000000.0) AS BIGINT) AS hurst_micro
    FROM per_m
    ORDER BY m
"""


@query("q_ts_hurst", oracle=_HURST_ORACLE)
def q_ts_hurst(spark, d):
    """Rescaled-range Hurst estimate (module comment): one corpus
    collapse to exact daily micro ints, block slicing by row-number
    div, integer within-block cusums/ranges, and the two-point
    log-log slope over the 3-row per-m relation."""
    daily = day_revenue(spark, d)
    # the calendar-bounded series rides one ordered index; lit(1)
    # partition silences the single-partition warning (bounded input)
    seq = daily.withColumn(
        "t",
        F.row_number().over(
            Window.partitionBy(F.lit(1)).orderBy("day")
        )
        - 1,
    )
    ms = spark.createDataFrame([(m,) for m in _HURST_MS], "m long")
    blocks = seq.crossJoin(F.broadcast(ms)).selectExpr(
        "m", "t div m AS blk", "t", "rev_micro"
    )
    full_blocks = (
        blocks.groupBy("m", "blk")
        .agg(
            F.sum("rev_micro").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") == F.col("m"))
    )
    devs = blocks.join(full_blocks, ["m", "blk"]).selectExpr(
        "m", "blk", "t", "rev_micro - (s div n) AS dv"
    )
    w_cum = (
        Window.partitionBy("m", "blk")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranges = (
        devs.select("m", "blk", F.sum("dv").over(w_cum).alias("c"))
        .groupBy("m", "blk")
        .agg((F.max("c") - F.min("c")).alias("r"))
    )
    per_m = ranges.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.expr("sum(r) div count(1)").alias("mean_r_micro"),
    )
    w_all = Window.partitionBy(F.lit(1))
    hi, lo = _HURST_MS[-1], _HURST_MS[0]
    return (
        per_m.withColumn(
            "hurst_micro",
            F.floor(
                (
                    F.log(
                        F.max(
                            F.when(
                                F.col("m") == hi, F.col("mean_r_micro")
                            )
                        )
                        .over(w_all)
                        .cast("double")
                    )
                    - F.log(
                        F.max(
                            F.when(
                                F.col("m") == lo, F.col("mean_r_micro")
                            )
                        )
                        .over(w_all)
                        .cast("double")
                    )
                )
                / F.log(F.lit(4.0))
                * 1000000.0
            ).cast("long"),
        )
        .select("m", "n_blocks", "mean_r_micro", "hurst_micro")
        .orderBy("m")
    )


# --------------------------------------------------------------------------
# Absorbing-chain probabilities (conversion within k steps)
# --------------------------------------------------------------------------
#
# The absorbing twin of q_behavior_markov: make 'purchase' absorbing
# and ask, per starting event type, the probability of having
# converted within k steps — a_1(s) = P(s→purchase), a_{k}(s) =
# a_1(s) + Σ_{t≠purchase} P(s→t)·a_{k−1}(t). Terms quantize to
# DECIMAL(30,10) pre-sum each step, so every iterate is
# order-independent and the whole trajectory hash-checks. Beyond the
# one lead() window shuffle, all relations are |event_types|-bounded.

_ABSORB_STEPS = 3
_ABSORB_TARGET = "purchase"


def _absorbing_oracle() -> str:
    steps = []
    prev = "a1"
    for s in range(2, _ABSORB_STEPS + 1):
        steps.append(f"""a{s} AS (
          SELECT p.event_type,
                 CAST(p.p1 + SUM(CAST(p.pr * a.a AS DECIMAL(30,10)))
                      AS DOUBLE) AS a
          FROM pmat p JOIN {prev} a ON a.event_type = p.nxt
          WHERE p.nxt <> '{_ABSORB_TARGET}'
          GROUP BY p.event_type, p.p1
        )""")
        prev = f"a{s}"
    sel = ", ".join(
        f"CAST(floor(a{s}.a * 1000000.0) AS BIGINT) AS a{s}_micro"
        for s in range(1, _ABSORB_STEPS + 1)
    )
    joins = " ".join(
        f"JOIN a{s} ON a{s}.event_type = a1.event_type"
        for s in range(2, _ABSORB_STEPS + 1)
    )
    return f"""
        WITH {TRANSITIONS_CTES},
        live AS (
          SELECT * FROM trans WHERE event_type <> '{_ABSORB_TARGET}'
        ),
        rowsum AS (
          SELECT event_type, CAST(SUM(c) AS BIGINT) AS r FROM live
          GROUP BY event_type
        ),
        p1s AS (
          SELECT t.event_type,
                 CAST(SUM(CASE WHEN t.nxt = '{_ABSORB_TARGET}'
                               THEN t.c ELSE 0 END) AS DOUBLE)
                     / ANY_VALUE(r.r) AS p1
          FROM live t JOIN rowsum r ON r.event_type = t.event_type
          GROUP BY t.event_type
        ),
        pmat AS (
          SELECT t.event_type, t.nxt,
                 t.c / (1.0 * r.r) AS pr,
                 p.p1
          FROM live t
          JOIN rowsum r ON r.event_type = t.event_type
          JOIN p1s p ON p.event_type = t.event_type
        ),
        a1 AS (SELECT event_type, p1 AS a FROM p1s),
        {", ".join(steps)}
        SELECT a1.event_type, {sel}
        FROM a1 {joins}
        ORDER BY a1.event_type
    """


@query("q_behavior_absorbing", oracle=_absorbing_oracle())
def q_behavior_absorbing(spark, d):
    """P(convert to purchase within k steps) per starting state,
    k=1..3 unrolled (module comment). One lead() window is the only
    corpus shuffle; the restricted matrix and every iterate are
    grid-sized broadcasts."""
    trans = transitions(spark, d).filter(
        F.col("event_type") != _ABSORB_TARGET
    )
    rowsum = trans.groupBy("event_type").agg(F.sum("c").alias("r"))
    p1s = (
        trans.join(F.broadcast(rowsum), "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("nxt") == _ABSORB_TARGET, F.col("c")
                    ).otherwise(0)
                ).cast("double")
                / F.any_value("r")
            ).alias("p1")
        )
    )
    pmat = (
        trans.join(F.broadcast(rowsum), "event_type")
        .join(F.broadcast(p1s), "event_type")
        .selectExpr("event_type", "nxt", "c / (1.0d * r) AS pr", "p1")
    )
    a = p1s.select("event_type", F.col("p1").alias("a"))
    iterates = [a]
    for _ in range(2, _ABSORB_STEPS + 1):
        a = (
            pmat.filter(F.col("nxt") != _ABSORB_TARGET)
            .join(
                F.broadcast(
                    a.select(F.col("event_type").alias("nxt"), "a")
                ),
                "nxt",
            )
            .groupBy("event_type", "p1")
            .agg(
                (
                    F.col("p1")
                    + F.sum(
                        (F.col("pr") * F.col("a")).cast(DEC)
                    )
                )
                .cast("double")
                .alias("a")
            )
            .select("event_type", "a")
        )
        iterates.append(a)
    out = iterates[0].selectExpr(
        "event_type",
        "cast(floor(a * 1000000.0d) as bigint) AS a1_micro",
    )
    for s, it in enumerate(iterates[1:], start=2):
        out = out.join(
            it.selectExpr(
                "event_type",
                f"cast(floor(a * 1000000.0d) as bigint) AS a{s}_micro",
            ),
            "event_type",
        )
    return out.orderBy("event_type")


# --------------------------------------------------------------------------
# Simpson diversity per source
# --------------------------------------------------------------------------
#
# Corpus-mix diagnostic next to q_text_zipf/q_text_entropy: Simpson's
# index D = Σ c·(c−1) / (N·(N−1)) — the probability two tokens drawn
# without replacement are the same type. The repeat-pair sum and both
# denominator factors are exact int64; the single division and the
# ppb scaling are identical-operand IEEE ops, floored to ppb.

_SIMPSON_ORACLE = """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    counts AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY source, w
    ),
    per_source AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * (c - 1)) AS BIGINT) AS rep_pairs
      FROM counts GROUP BY source
    )
    SELECT source, n_tokens, n_types, rep_pairs,
           CAST(floor((CAST(rep_pairs AS DOUBLE)
                       / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)))
                      * 1000000000.0) AS BIGINT) AS simpson_ppb
    FROM per_source
    WHERE n_tokens > 1
    ORDER BY source
"""


@query("q_text_simpson", oracle=_SIMPSON_ORACLE)
def q_text_simpson(spark, d):
    """Simpson diversity per source (module comment): one token
    explode into a (source, word) combinable agg, then a per-source
    collapse — integers end to end, one identical-operand division
    floored to ppb."""
    docs = load(spark, d, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    counts = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_source = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("rep_pairs"),
    )
    return (
        per_source.filter(F.col("n_tokens") > 1)
        .selectExpr(
            "source",
            "n_tokens",
            "n_types",
            "rep_pairs",
            "cast(floor((cast(rep_pairs as double)"
            " / (cast(n_tokens as double) * (n_tokens - 1)))"
            " * 1000000000.0d) as bigint) AS simpson_ppb",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Non-equi band join via bucket-key equi-join
# --------------------------------------------------------------------------
#
# The scale pattern for range joins (q_join_range_ts's value-band
# sibling): joining rows to [lo, hi) bands with a raw BETWEEN predicate
# is a broadcast nested-loop join — fine for a 7-row band table, fatal
# when the band table grows. The bucketed form stays an EQUI-join at
# ANY band count: each band explodes to the fixed-width buckets it
# overlaps (sequence over floor(lo/W)..floor((hi−1)/W)), rows compute
# bucket = floor(value/W), join on the bucket key, and the residual
# BETWEEN filters within the bucket. The oracle is the plain BETWEEN
# join — proving the rewrite is semantics-preserving.

_BANDS = [
    (1, 0, 50_000),
    (2, 50_000, 100_000),
    (3, 100_000, 150_000),
    (4, 150_000, 200_000),
    (5, 200_000, 300_000),
    (6, 300_000, 400_000),
    (7, 400_000, 600_000),
]
_BUCKET_W = 25_000

_RANGE_BUCKET_ORACLE = f"""
    WITH bands(band_id, lo, hi) AS (
      VALUES {", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _BANDS)}
    )
    SELECT CAST(b.band_id AS BIGINT) AS band_id,
           CAST(b.lo AS BIGINT) AS lo,
           CAST(b.hi AS BIGINT) AS hi,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(floor(SUM(CAST(o.o_totalprice
                                        AS DECIMAL(30,10))) * 100), 0)
                AS BIGINT) AS sum_cents
    FROM bands b
    LEFT JOIN orders o
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_id, b.lo, b.hi
    ORDER BY band_id
"""


@query("q_join_range_bucket", oracle=_RANGE_BUCKET_ORACLE)
def q_join_range_bucket(spark, d):
    """Band join rewritten as a bucket equi-join (module comment):
    bands explode to overlapped fixed-width buckets, orders compute
    one bucket key, the join is a plain equi-join + residual filter —
    shuffle-partitionable at any band-table size, unlike the
    BETWEEN nested-loop the oracle runs."""
    orders = load(spark, d, "orders")
    bands = spark.createDataFrame(
        _BANDS, "band_id long, lo long, hi long"
    )
    expl = bands.selectExpr(
        "band_id",
        "lo",
        "hi",
        f"explode(sequence(cast(floor(lo / {_BUCKET_W}) as long),"
        f" cast(floor((hi - 1) / {_BUCKET_W}) as long))) AS bucket",
    )
    rows = orders.selectExpr(
        "o_orderkey",
        "o_totalprice",
        f"cast(floor(o_totalprice / {_BUCKET_W}) as long) AS bucket",
    )
    joined = rows.join(F.broadcast(expl), "bucket").filter(
        (F.col("o_totalprice") >= F.col("lo"))
        & (F.col("o_totalprice") < F.col("hi"))
    )
    agg = joined.groupBy("band_id", "lo", "hi").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.floor(F.sum(F.col("o_totalprice").cast(DEC)) * 100)
        .cast("long")
        .alias("sum_cents"),
    )
    return (
        F.broadcast(bands)
        .join(agg.drop("lo", "hi"), "band_id", "left")
        .selectExpr(
            "band_id",
            "lo",
            "hi",
            "coalesce(n_orders, 0L) AS n_orders",
            "coalesce(sum_cents, 0L) AS sum_cents",
        )
        .orderBy("band_id")
    )


# --------------------------------------------------------------------------
# Minhash-estimated vs exact Jaccard + containment per candidate pair
# --------------------------------------------------------------------------
#
# The sketch-quality eval for the dedup funnel's estimation step
# (Broder resemblance/containment): per near-dup candidate pair
# (exact bigram Jaccard ≥ 0.4), compare the 16-permutation minhash
# Jaccard estimate (equal-slot fraction) and the containment it
# implies via set sizes, C_ab ≈ J·(|A|+|B|) / ((1+J)·|A|), against
# the exact postings-join values. Signatures are min-of-h56 per
# (doc, perm) — bit-identical cross-engine — so estimate AND error
# are hash-checked integers, not a rows-only accuracy claim.

_MHC_PERMS = 16


def _mhc_oracle() -> str:
    mh = sql_h56("'mh' || CAST(p AS VARCHAR) || ':' || g")
    return f"""
        WITH {BIGRAM_PAIRS_CTES},
        cand AS (
            SELECT doc_a, doc_b, c, na, nb FROM pairs
            WHERE jacc >= {NEAR_DUP_TAU}
        ),
        perms AS (SELECT unnest(generate_series(0, {_MHC_PERMS - 1})) AS p),
        sig AS (
            SELECT r.doc_id, pe.p, MIN({mh}) AS m
            FROM rare r CROSS JOIN perms pe
            GROUP BY r.doc_id, pe.p
        ),
        match AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)
                        AS BIGINT) AS eq_slots
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b AND sb.p = sa.p
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT c.doc_a, c.doc_b, c.na, c.nb, m.eq_slots,
               CAST(c.c * 1000000 // (c.na + c.nb - c.c) AS BIGINT)
                   AS exact_j_ppm,
               CAST(m.eq_slots * 1000000 // {_MHC_PERMS} AS BIGINT)
                   AS est_j_ppm,
               CAST(c.c * 1000000 // c.na AS BIGINT) AS cont_ab_ppm,
               CAST((m.eq_slots * 1000000 // {_MHC_PERMS})
                    * (c.na + c.nb) * 1000000
                    // (c.na * (1000000
                                + m.eq_slots * 1000000 // {_MHC_PERMS}))
                    AS BIGINT) AS est_cont_ab_ppm
        FROM cand c JOIN match m
          ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
        ORDER BY c.doc_a, c.doc_b
    """


@query("q_text_minhash_containment", oracle=_mhc_oracle())
def q_text_minhash_containment(spark, d):
    """Minhash Jaccard/containment estimates vs exact, per candidate
    pair (module comment). Plan: the shared rare-gram postings
    relation feeds (a) the exact pair join and (b) a 16-slot
    per-distinct-gram min signature (one agg on doc, corpus-linear);
    the estimate join then runs on the bounded candidate set ×
    16-slot signatures. All outputs integer ppm."""
    rare = rare_grams(spark, d)
    cand = (
        bigram_overlap(spark, d)
        .withColumn(
            "jacc",
            F.round(
                F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6
            ),
        )
        .filter(F.col("jacc") >= NEAR_DUP_TAU)
        .drop("jacc")
    )
    # The signature stays WIDE (lsh.min_signature: 16 hashes once per
    # distinct gram, postings already partitioned on g by the DF-cap
    # window, one 16-column min agg): the per-pair eq_slots is a
    # codegen'd 16-term comparison sum after two key joins, not a 16×
    # perm explode with a (doc, perm) shuffle and a slot join.
    sigw = min_signature(
        rare,
        "doc_id",
        "g",
        [h56(f"concat('mh{p}:', g)") for p in range(_MHC_PERMS)],
    )
    sa = sigw.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{p}").alias(f"ma{p}") for p in range(_MHC_PERMS)],
    )
    sb = sigw.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{p}").alias(f"mb{p}") for p in range(_MHC_PERMS)],
    )
    eq_expr = " + ".join(
        f"IF(ma{p} = mb{p}, 1, 0)" for p in range(_MHC_PERMS)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("eq_slots", F.expr(f"cast(({eq_expr}) as bigint)"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            "eq_slots",
            "cast(c * 1000000L div (na + nb - c) as bigint)"
            " AS exact_j_ppm",
            f"cast(eq_slots * 1000000L div {_MHC_PERMS} as bigint)"
            " AS est_j_ppm",
            "cast(c * 1000000L div na as bigint) AS cont_ab_ppm",
            f"cast((eq_slots * 1000000L div {_MHC_PERMS})"
            " * (na + nb) * 1000000L"
            f" div (na * (1000000L"
            f" + eq_slots * 1000000L div {_MHC_PERMS}))"
            " as bigint) AS est_cont_ab_ppm",
        )
        .orderBy("doc_a", "doc_b")
    )
