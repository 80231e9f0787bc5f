"""Round-9 batch D: gaps-and-islands sessionization, Neyman optimal
sampling allocation, and IVF retrieval recall.

New keys (SURVEY.md §2B):
- q_win_gaps_islands — consecutive-active-day islands per user (the
  row_number-difference idiom), island length distribution
- q_sample_neyman    — Neyman optimal stratified-sample allocation
  (n_h ∝ N_h·S_h) from exact integer moments
- q_emb_ann_recall_ivf — recall@5 of the declared IVF retrieval vs
  brute force over the shared probe panel, integer distances

All declared; r8 output policy.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.vectors import sq_dist
from ..registry import query
from ..sources.io import load
from .behavior import DAY_IDX_SQL, day_idx
from .fits import KM_FIT_CTES, km_fit_memo, quantized_vecs

# --------------------------------------------------------------------------
# Gaps & islands: consecutive-active-day stre islands per user
# --------------------------------------------------------------------------
#
# The canonical gaps-and-islands rewrite: per (user, active day),
# island_key = epoch_day − row_number() is constant within each
# maximal run of consecutive days — one user-partitioned window, one
# integer subtraction, then a combinable island agg. Unlike
# q_behavior_streaks (which reports per-user maxima) this emits the
# ISLAND LENGTH DISTRIBUTION — the corpus-level activity texture.

_ISLANDS_ORACLE = f"""
    WITH active AS (
      SELECT DISTINCT user_id, {DAY_IDX_SQL} AS day_num
      FROM events
    ),
    keyed AS (
      SELECT user_id, day_num,
             day_num - ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY day_num) AS island
      FROM active
    ),
    islands AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
      FROM keyed GROUP BY user_id, island
    )
    SELECT len AS island_len,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(len) AS BIGINT) AS days_covered
    FROM islands
    GROUP BY len
    ORDER BY island_len
"""


@query("q_win_gaps_islands", oracle=_ISLANDS_ORACLE)
def q_win_gaps_islands(spark, d):
    """Island-length distribution of consecutive active days (module
    comment). One distinct collapse to (user, day), one user
    window, two combinable aggs — calendar-bounded per user."""
    ev = load(spark, d, "events")
    active = ev.select("user_id", day_idx().alias("day_num")).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    keyed = active.select(
        "user_id",
        "day_num",
        (F.col("day_num") - F.row_number().over(w)).alias("island"),
    )
    islands = keyed.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        islands.groupBy(F.col("len").alias("island_len"))
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum("len").cast("long").alias("days_covered"),
        )
        .orderBy("island_len")
    )


# --------------------------------------------------------------------------
# Neyman optimal stratified-sample allocation
# --------------------------------------------------------------------------
#
# The design step BEFORE q_sample_stratified: for a fixed total budget
# n, Neyman allocation samples stratum h at n_h ∝ N_h·S_h (size ×
# std-dev) — minimum-variance estimation of the population mean. S_h
# comes from exact integer cent moments (N·Σx² − (Σx)² over cents);
# sqrt is IEEE-correctly-rounded so the weight doubles are
# bit-identical, and the allocation integer-floors. The diagnostic
# columns compare against proportional allocation — the gain a survey
# designer reads.

_NEYMAN_BUDGET = 1000

_NEYMAN_ORACLE = f"""
    WITH strata AS (
      -- Σ cents² exceeds int64 at large n: DuckDB's HUGEINT sum and
      -- Spark's DECIMAL(30,0) sum are both exact, and both sides cast
      -- the identical exact integer to DOUBLE before the sqrt
      SELECT o_orderpriority AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS s1d,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS s2d
      FROM orders
      GROUP BY o_orderpriority
    ),
    weighted AS (
      SELECT stratum, n_h,
             n_h * sqrt(CAST(n_h AS DOUBLE) * s2d - s1d * s1d)
                 / CAST(n_h AS DOUBLE) AS w
      FROM strata
    ),
    tot AS (SELECT SUM(w) AS wt, CAST(SUM(n_h) AS BIGINT) AS nt
            FROM weighted)
    SELECT s.stratum, s.n_h,
           CAST(floor({_NEYMAN_BUDGET} * s.w / t.wt) AS BIGINT)
               AS neyman_n,
           CAST(floor({_NEYMAN_BUDGET} * CAST(s.n_h AS DOUBLE) / t.nt)
                AS BIGINT) AS proportional_n,
           CAST(floor(s.w / t.wt * 1000000.0) AS BIGINT)
               AS weight_ppm
    FROM weighted s CROSS JOIN tot t
    ORDER BY s.stratum
"""


@query("q_sample_neyman", oracle=_NEYMAN_ORACLE)
def q_sample_neyman(spark, d):
    """Neyman allocation per order-priority stratum (module comment):
    one combinable cent-moment agg, a 1-row totals broadcast, and
    identical-operand sqrt/divide chains floored to integers."""
    orders = load(spark, d, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    # Σ cents² via exact DECIMAL(30,0) — int64 overflows at large n
    # (measured at the 5x probe); the exact integer casts to the same
    # double as DuckDB's HUGEINT sum
    strata = orders.groupBy(
        F.col("o_orderpriority").alias("stratum")
    ).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(cents.cast("decimal(30,0)")).cast("double").alias("s1d"),
        F.sum((cents * cents).cast("decimal(30,0)"))
        .cast("double")
        .alias("s2d"),
    )
    weighted = strata.selectExpr(
        "stratum",
        "n_h",
        "n_h * sqrt(cast(n_h as double) * s2d"
        " - s1d * s1d) / cast(n_h as double) AS w",
    )
    tot = weighted.agg(
        F.sum("w").alias("wt"), F.sum("n_h").alias("nt")
    )
    return (
        weighted.crossJoin(F.broadcast(tot))
        .selectExpr(
            "stratum",
            "n_h",
            f"cast(floor({_NEYMAN_BUDGET} * w / wt) as bigint)"
            " AS neyman_n",
            f"cast(floor({_NEYMAN_BUDGET} * cast(n_h as double) / nt)"
            " as bigint) AS proportional_n",
            "cast(floor(w / wt * 1000000.0d) as bigint) AS weight_ppm",
        )
        .orderBy("stratum")
    )


# --------------------------------------------------------------------------
# IVF retrieval recall vs brute force
# --------------------------------------------------------------------------
#
# The index-quality eval for the declared IVF (q_sim_ann_ivf_kmeans):
# per probe, top-5 by exact integer distance over the FULL corpus
# (brute truth) vs top-5 restricted to the probe's nprobe=2 nearest
# Lloyd cells — recall@5 in exact ppm. Every distance is an integer
# fold over the shared quantized vectors, ranks tie-break on vec_id,
# so the recall surface is hash-checked, mirroring
# q_dedup_recall_minhash's role for the banding tier. Probe panel is
# a fixed 1-in-100 slice: panel × corpus stays linear in the corpus.


_IVF_RECALL_ORACLE = f"""
        WITH {KM_FIT_CTES},
        probes AS (
          SELECT vec_id AS probe_id, q AS pq FROM vecs
          WHERE vec_id % 100 = 0
        ),
        pcells AS (
          SELECT probe_id, cluster, rk FROM (
            SELECT p.probe_id, c.cluster,
                   ROW_NUMBER() OVER (
                     PARTITION BY p.probe_id
                     ORDER BY list_sum(list_transform(
                         generate_series(1, 64),
                         i -> (p.pq[i] - c.cq[i]) * (p.pq[i] - c.cq[i]))),
                       c.cluster) AS rk
            FROM probes p CROSS JOIN cent2 c
          ) WHERE rk <= 2
        ),
        brute AS (
          SELECT probe_id, vec_id FROM (
            SELECT p.probe_id, v.vec_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY p.probe_id
                     ORDER BY list_sum(list_transform(
                         generate_series(1, 64),
                         i -> (p.pq[i] - v.q[i]) * (p.pq[i] - v.q[i]))),
                       v.vec_id) AS rk
            FROM probes p CROSS JOIN vecs v
            WHERE v.vec_id <> p.probe_id
          ) WHERE rk <= 5
        ),
        ivf AS (
          SELECT probe_id, vec_id FROM (
            SELECT p.probe_id, a.vec_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY p.probe_id
                     ORDER BY list_sum(list_transform(
                         generate_series(1, 64),
                         i -> (p.pq[i] - a.q[i]) * (p.pq[i] - a.q[i]))),
                       a.vec_id) AS rk
            FROM probes p
            JOIN pcells pc ON pc.probe_id = p.probe_id
            JOIN assign3 a ON a.cluster = pc.cluster
                           AND a.vec_id <> p.probe_id
          ) WHERE rk <= 5
        ),
        hits AS (
          SELECT b.probe_id,
                 CAST(SUM(CASE WHEN i.vec_id IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS hit
          FROM brute b
          LEFT JOIN ivf i ON i.probe_id = b.probe_id
                          AND i.vec_id = b.vec_id
          GROUP BY b.probe_id
        )
        SELECT hit AS n_hits_of_5,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(hit * 1000000 // 5 AS BIGINT) AS bucket_recall_ppm
        FROM hits
        GROUP BY hit
        ORDER BY n_hits_of_5
    """


@query("q_emb_ann_recall_ivf", oracle=_IVF_RECALL_ORACLE)
def q_emb_ann_recall_ivf(spark, d):
    """Recall@5 of the declared IVF vs brute truth (module comment),
    reported as the hit-count histogram over the probe panel. Plan:
    the memoized Lloyd fit supplies centroids + cell members; brute
    truth is panel × corpus (broadcast panel, one pass); the IVF side
    joins the panel's 2 routed cells to cell-partitioned members —
    at 100 TB the brute side is the eval's sunk cost (run on a
    sampled panel), the IVF side is the production query path."""
    from . import pipeline8 as _p8

    vecs = quantized_vecs(load(spark, d, "embeddings"))
    cents, members = km_fit_memo(spark, d)
    # the probe panel shares pipeline8's seam so scale_probe
    # --fixed-panel pins ALL IVF-family evals together
    probes = vecs.filter(_p8._ivf_probe_predicate()).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq")
    )
    dist = sq_dist("pq", "q")
    cdist = sq_dist("pq", "cq")
    w_route = Window.partitionBy("probe_id").orderBy("cd2", "cluster")
    pcells = (
        F.broadcast(probes)
        .crossJoin(F.broadcast(cents))
        .withColumn("cd2", cdist)
        .withColumn("rk", F.row_number().over(w_route))
        .filter(F.col("rk") <= 2)
        .select("probe_id", "cluster")
    )
    w_rank = Window.partitionBy("probe_id").orderBy("d2", "vec_id")
    brute = (
        F.broadcast(probes)
        .join(vecs, vecs.vec_id != probes.probe_id)
        .withColumn("d2", dist)
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 5)
        .select("probe_id", "vec_id")
    )
    ivf = (
        F.broadcast(pcells.join(probes, "probe_id"))
        .join(members, "cluster")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("d2", dist)
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 5)
        .select("probe_id", "vec_id")
    )
    hits = (
        brute.join(ivf.withColumn("m", F.lit(1)), ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(F.sum(F.coalesce(F.col("m"), F.lit(0))).cast("long").alias("hit"))
    )
    return (
        hits.groupBy(F.col("hit").alias("n_hits_of_5"))
        .agg(F.count(F.lit(1)).alias("n_probes"))
        .selectExpr(
            "n_hits_of_5",
            "n_probes",
            "cast(n_hits_of_5 * 1000000L div 5 as bigint)"
            " AS bucket_recall_ppm",
        )
        .orderBy("n_hits_of_5")
    )
