"""Round-9 batch G: cluster-quality evals on the shared Lloyd fit,
farthest-point seeding, and cross-table consistency audits.

New keys (SURVEY.md §2B):
- q_ml_silhouette    — simplified silhouette per cluster (distance to
  own vs nearest-other centroid) on the memoized k-means fit
- q_ml_davies_bouldin — Davies-Bouldin index of the same fit (scatter
  / separation ratios over the 4x4 centroid grid)
- q_ml_kcenter_init  — farthest-point (k-center / k-means++ max) seed
  selection, 3 unrolled argmax rounds + final coverage radius
- q_dq_crossfield    — cross-table consistency audit: lineitem ship
  dates vs their order's date (impossible-before / stale-after
  rules), violation shares per priority

All declared; r8 output policy. The silhouette/DB pair are the second
and third consumers of the memoized Lloyd fit (CLAUDE.md snapshot-memo
note) — they pay a parquet re-read, not a re-fit.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.vectors import sq_dist
from ..registry import query
from ..sources.io import load
from .fits import (
    KM_CENT2_CTES,
    KM_FIT_CTES,
    VECS_Q_SQL,
    km_fit_memo,
    quantized_vecs,
)

# --------------------------------------------------------------------------
# Simplified silhouette on the shared Lloyd fit
# --------------------------------------------------------------------------
#
# The centroid-based (simplified) silhouette — the O(n·k) variant that
# replaces O(n²) pairwise distances, the only formulation that
# survives 100 TB: per point, a = d(point, own centroid),
# b = d(point, nearest OTHER centroid), s = (b−a)/max(a,b) = 1 − a/b
# here (b ≥ a by argmin assignment). Distances are sqrt of exact
# integer quantized squares (IEEE-correct, identical both engines);
# per-point s quantizes to DECIMAL(30,10) before the per-cluster mean.

_SIL_RESCORE = """
        scored AS (
          SELECT v.vec_id, c.cluster,
                 list_sum(list_transform(generate_series(1, 64),
                     i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i])))
                     AS dist2
          FROM vecs v CROSS JOIN cent2 c
        ),
        ranked AS (
          SELECT vec_id, cluster, dist2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY dist2, cluster) AS rk
          FROM scored
        ),
        ab AS (
          SELECT vec_id,
                 MAX(CASE WHEN rk = 1 THEN cluster END) AS cluster,
                 MAX(CASE WHEN rk = 1 THEN dist2 END) AS a2,
                 MAX(CASE WHEN rk = 2 THEN dist2 END) AS b2
          FROM ranked WHERE rk <= 2 GROUP BY vec_id
        )
"""


_SILHOUETTE_ORACLE = f"""
        WITH {KM_CENT2_CTES},
        {_SIL_RESCORE}
        SELECT cluster,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(floor(CAST(SUM(CAST(
                   CASE WHEN b2 = 0 THEN 0.0
                        ELSE (sqrt(CAST(b2 AS DOUBLE))
                              - sqrt(CAST(a2 AS DOUBLE)))
                             / sqrt(CAST(b2 AS DOUBLE)) END
                   AS DECIMAL(30,10))) AS DOUBLE)
                   / COUNT(*) * 1000000.0) AS BIGINT)
                   AS mean_sil_micro
        FROM ab
        GROUP BY cluster
        ORDER BY cluster
    """


@query("q_ml_silhouette", oracle=_SILHOUETTE_ORACLE)
def q_ml_silhouette(spark, d):
    """Simplified silhouette per cluster (module comment). Plan: one
    vecs x 4-centroid broadcast rescore (the fits._km_assign shape),
    a per-point rank over 4 rows, one combinable per-cluster agg."""
    vecs = quantized_vecs(load(spark, d, "embeddings"))
    cents, _ = km_fit_memo(spark, d)
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cluster", sq_dist("q", "cq").alias("dist2")
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cluster")
    ab = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("cluster"))).alias(
                "cluster"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("dist2"))).alias("a2"),
            F.max(F.when(F.col("rk") == 2, F.col("dist2"))).alias("b2"),
        )
    )
    s = F.when(F.col("b2") == 0, F.lit(0.0)).otherwise(
        (
            F.sqrt(F.col("b2").cast("double"))
            - F.sqrt(F.col("a2").cast("double"))
        )
        / F.sqrt(F.col("b2").cast("double"))
    )
    return (
        ab.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(
                F.sum(s.cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
                * 1000000.0
            )
            .cast("long")
            .alias("mean_sil_micro"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# Davies-Bouldin index of the same fit
# --------------------------------------------------------------------------
#
# DB = (1/k) Σ_i max_{j≠i} (S_i + S_j) / M_ij with S the mean point-
# to-centroid distance and M the centroid separation — the lower the
# better. One corpus pass for the scatters (decimal-quantized sqrt
# sums), a 4x4 centroid grid for the separations; everything after
# the scan is k²-sized.


_DB_ORACLE = f"""
        WITH {KM_FIT_CTES},
        scatter AS (
          SELECT cluster,
                 CAST(SUM(CAST(sqrt(CAST(dist2 AS DOUBLE))
                               AS DECIMAL(30,10))) AS DOUBLE)
                 / COUNT(*) AS s
          FROM assign3 GROUP BY cluster
        ),
        sep AS (
          SELECT a.cluster AS ci, b.cluster AS cj,
                 sqrt(CAST(list_sum(list_transform(
                     generate_series(1, 64),
                     i -> (a.cq[i] - b.cq[i]) * (a.cq[i] - b.cq[i])))
                     AS DOUBLE)) AS m
          FROM cent2 a JOIN cent2 b ON a.cluster <> b.cluster
        ),
        r AS (
          SELECT s.ci, MAX((sa.s + sb.s) / s.m) AS r_i
          FROM sep s
          JOIN scatter sa ON sa.cluster = s.ci
          JOIN scatter sb ON sb.cluster = s.cj
          GROUP BY s.ci
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(floor(CAST(SUM(CAST(r_i AS DECIMAL(30,10)))
                               AS DOUBLE) / COUNT(*) * 1000000.0)
                    AS BIGINT) AS db_micro
        FROM r
    """


@query("q_ml_davies_bouldin", oracle=_DB_ORACLE)
def q_ml_davies_bouldin(spark, d):
    """Davies-Bouldin index of the shared Lloyd fit (module comment):
    one combinable scatter agg over the memoized assignments, then
    k²-sized separation/ratio relations."""
    cents, assign = km_fit_memo(spark, d)
    scatter = assign.groupBy("cluster").agg(
        (
            F.sum(
                F.sqrt(F.col("dist2").cast("double")).cast(
                    "decimal(30,10)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("s")
    )
    ca = cents.select(
        F.col("cluster").alias("ci"), F.col("cq").alias("qa")
    )
    cb = cents.select(
        F.col("cluster").alias("cj"), F.col("cq").alias("qb")
    )
    cdist = F.sqrt(sq_dist("qa", "qb").cast("double"))
    sep = ca.join(cb, F.col("ci") != F.col("cj")).select(
        "ci", "cj", cdist.alias("m")
    )
    sa = scatter.select(
        F.col("cluster").alias("ci"), F.col("s").alias("s_i")
    )
    sb = scatter.select(
        F.col("cluster").alias("cj"), F.col("s").alias("s_j")
    )
    r = (
        sep.join(F.broadcast(sa), "ci")
        .join(F.broadcast(sb), "cj")
        .groupBy("ci")
        .agg(
            F.max(
                (F.col("s_i") + F.col("s_j")) / F.col("m")
            ).alias("r_i")
        )
    )
    return r.agg(
        F.count(F.lit(1)).alias("k"),
        F.floor(
            F.sum(F.col("r_i").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
            * 1000000.0
        )
        .cast("long")
        .alias("db_micro"),
    )


# --------------------------------------------------------------------------
# Farthest-point (k-center) seed selection
# --------------------------------------------------------------------------
#
# The deterministic k-means++-style initializer that actually ships
# at scale: seed with the smallest vec_id, then 3 unrolled rounds of
# "pick the point farthest from the chosen set" (argmax of min
# distance; ties to the smaller vec_id via a 1-row max broadcast +
# min-id filter — no global sort). The final row reports the coverage
# radius, i.e. the k-center objective achieved.


def _kcenter_pick_sql(t: int, chosen: str) -> str:
    """SQL for pick t: distance of every vec to ``chosen``, argmax."""
    return f"""
        mind{t} AS (
          SELECT v.vec_id, MIN(list_sum(list_transform(
              generate_series(1, 64),
              i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i])))) AS d2
          FROM vecs v CROSS JOIN {chosen} c
          WHERE v.vec_id NOT IN (SELECT vec_id FROM {chosen})
          GROUP BY v.vec_id
        ),
        mx{t} AS (SELECT MAX(d2) AS mx FROM mind{t}),
        pick{t} AS (
          SELECT MIN(m.vec_id) AS vec_id, MAX(x.mx) AS d2
          FROM mind{t} m CROSS JOIN mx{t} x
          WHERE m.d2 = x.mx
        ),
        chosen{t} AS (
          SELECT * FROM {chosen}
          UNION ALL
          SELECT v.vec_id, v.q FROM vecs v
          JOIN pick{t} p ON p.vec_id = v.vec_id
        )
"""


_KCENTER_ORACLE = f"""
        WITH {VECS_Q_SQL},
        seed AS (
          SELECT vec_id, q FROM vecs ORDER BY vec_id LIMIT 1
        ),
        {_kcenter_pick_sql(1, "seed")},
        {_kcenter_pick_sql(2, "chosen1")},
        {_kcenter_pick_sql(3, "chosen2")},
        cover AS (
          SELECT MAX(d2) AS radius2 FROM (
            SELECT v.vec_id, MIN(list_sum(list_transform(
                generate_series(1, 64),
                i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i])))) AS d2
            FROM vecs v CROSS JOIN chosen3 c
            GROUP BY v.vec_id
          )
        )
        SELECT 0 AS pick_order,
               (SELECT vec_id FROM seed) AS vec_id,
               CAST((SELECT radius2 FROM cover) AS BIGINT) AS d2
        UNION ALL SELECT 1, vec_id, CAST(d2 AS BIGINT) FROM pick1
        UNION ALL SELECT 2, vec_id, CAST(d2 AS BIGINT) FROM pick2
        UNION ALL SELECT 3, vec_id, CAST(d2 AS BIGINT) FROM pick3
        ORDER BY pick_order
    """


@query("q_ml_kcenter_init", oracle=_KCENTER_ORACLE)
def q_ml_kcenter_init(spark, d):
    """Farthest-point seed selection (module comment): 3 unrolled
    rounds, each one broadcast-chosen scan + a 1-row argmax. Each
    round's winner is collected (BOUNDED: one id per round, k-1 rows
    total) and re-anchored as a pushed vec_id filter — carrying the
    chosen set as DataFrame lineage instead re-evaluates every prior
    round per reference (measured 10 s; the recursive-lineage trap
    CLAUDE.md pins for WITH RECURSIVE)."""
    vecs = quantized_vecs(load(spark, d, "embeddings"))
    dist = sq_dist("q", "cq")

    def min_dist(ids):
        chosen = F.broadcast(
            vecs.filter(F.col("vec_id").isin(ids)).select(
                F.col("vec_id").alias("cid"), F.col("q").alias("cq")
            )
        )
        return (
            vecs.filter(~F.col("vec_id").isin(ids))
            .crossJoin(chosen)
            .withColumn("pd2", dist)
            .groupBy("vec_id")
            .agg(F.min("pd2").alias("d2"))
        )

    seed_id = vecs.agg(F.min("vec_id")).collect()[0][0]
    ids = [int(seed_id)]
    picks = [(0, ids[0], None)]  # d2 filled with the coverage radius
    for t in (1, 2, 3):
        mind = min_dist(ids)
        # argmax with min-id tiebreak as ONE global agg: max of
        # struct(d2, -vec_id) is lexicographic (max d2, then min
        # vec_id) over exact integers — replaces the max-broadcast +
        # filter-join idiom, which evaluated the distance relation
        # TWICE per round (once for mx, once joined) and paid an extra
        # broadcast exchange per round (r18: 3.78 -> 2.20 s median,
        # picks identical).
        row = (
            mind.agg(
                F.max(
                    F.struct(F.col("d2"), (-F.col("vec_id")).alias("nv"))
                ).alias("m")
            )
            .collect()[0]
            .m
        )
        picks.append((t, int(-row.nv), int(row.d2)))
        ids.append(int(-row.nv))
    radius2 = int(
        min_dist(ids).agg(F.max("d2").alias("r")).collect()[0].r
    )
    picks[0] = (0, picks[0][1], radius2)
    return spark.createDataFrame(
        picks, "pick_order int, vec_id bigint, d2 bigint"
    ).orderBy("pick_order")


# --------------------------------------------------------------------------
# Cross-table consistency audit
# --------------------------------------------------------------------------
#
# The referential DQ rule q_dq_rules can't see: child-row fields must
# be consistent with their PARENT row — here, a line item cannot ship
# before its order was placed and shouldn't ship more than 120 days
# after. One fact-spine equi-join, violation counters per priority,
# exact ppm shares.

_XF_LATE_DAYS = 120

_XF_ORACLE = f"""
    WITH joined AS (
      SELECT o.o_orderpriority AS priority,
             CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END
                 AS v_before,
             CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
                       > {_XF_LATE_DAYS} THEN 1 ELSE 0 END AS v_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(v_before) AS BIGINT) AS n_ship_before_order,
           CAST(SUM(v_late) AS BIGINT) AS n_ship_late,
           CAST(SUM(v_before + v_late) * 1000000 // COUNT(*) AS BIGINT)
               AS violation_ppm
    FROM joined
    GROUP BY priority
    ORDER BY priority
"""


@query("q_dq_crossfield", oracle=_XF_ORACLE)
def q_dq_crossfield(spark, d):
    """Cross-table consistency audit (module comment): one fact-spine
    equi-join (lineitem x orders on orderkey), combinable violation
    counters, exact ppm shares."""
    li = load(spark, d, "lineitem")
    orders = load(spark, d, "orders")
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1)
        .otherwise(0)
        .alias("v_before"),
        F.when(
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            )
            > _XF_LATE_DAYS,
            1,
        )
        .otherwise(0)
        .alias("v_late"),
    )
    return (
        joined.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("v_before").alias("n_ship_before_order"),
            F.sum("v_late").alias("n_ship_late"),
        )
        .selectExpr(
            "priority",
            "n_lines",
            "n_ship_before_order",
            "n_ship_late",
            "(n_ship_before_order + n_ship_late) * 1000000L"
            " div n_lines AS violation_ppm",
        )
        .orderBy("priority")
    )
