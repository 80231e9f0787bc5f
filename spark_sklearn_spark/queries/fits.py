"""Declared model fits shared by the ML query family: Lloyd k-means
and full-batch logistic-regression gradient descent.

Each fit has two sides that are written independently and must agree
bit for bit: the Spark DataFrame fit (snapshotted once per fixture,
so every consumer pays a file re-read, not a re-fit) and the DuckDB
CTE chain each consumer's oracle replays. This module is the one home
of both, and of the stages built on them that several keys share:

- Lloyd: ``KM_CENT2_CTES`` (vecs, init, rounds 1-2, cent2),
  ``KM_FIT_CTES`` (plus round 3, assign3), ``km_fit_memo`` and the
  cluster x label contingency table (``km_contingency`` /
  ``KM_CONT_CTE``).
- Logreg: ``LR_FIT_CTES`` (feats, n, it0-it3), ``lr_fit`` and the
  decile-binned scores (``lr_decile_bins`` / ``LR_BINS_CTES``).
- Trees: the histogram split search of the decision stump, the depth-2
  tree and the GBM round — the per-feature bucket histogram
  (``split_hist`` / ``split_hist_sql``), every threshold's left-side
  and node sums (``split_prefix`` / ``split_prefix_ctes``) and the
  quantized child and parent Gini (``gini_q9`` / ``GINI_Q9_SQL``,
  ``gini_root_q9`` / ``GINI_ROOT_Q9_SQL``).
"""

from __future__ import annotations

import os

from pyspark.sql import Window, functions as F

from ..functions.vectors import sq_dist
from ..sources.io import load, snapshot, write_parquet
from ._helpers import DEC

# --------------------------------------------------------------------------
# Declared Lloyd's k-means (unrolled iterations, integer arithmetic)
# --------------------------------------------------------------------------

KM_K = 4
KM_Q = 1_000_000  # component quantization, same as q_sim_ann_grid
KM_DIM = 64

# Shared floor(x*1e6) vector quantization — ONE definition feeding every
# quantized-embedding oracle (and quantized_vecs for the Spark side),
# so a quantization change cannot silently diverge between them.
VECS_Q_SQL = f"""
        vecs AS (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * {KM_Q})
                               AS BIGINT)) AS q
          FROM embeddings
        )
"""

_KM_VECS_SQL = f"""
        {VECS_Q_SQL},
        init AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
                 q AS cq
          FROM vecs ORDER BY vec_id LIMIT {KM_K}
        )
"""


def quantized_vecs(emb):
    """(vec_id, q): Spark mirror of VECS_Q_SQL."""
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {KM_Q}) as bigint))"
        ).alias("q"),
    )


def _km_round_sql(n: int, cent: str) -> str:
    """One unrolled Lloyd round: score vs ``cent``, keep the argmin."""
    return f"""
        scored{n} AS (
          SELECT v.vec_id, v.q, c.cluster,
                 list_sum(list_transform(generate_series(1, {KM_DIM}),
                     i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i])))
                     AS dist2
          FROM vecs v CROSS JOIN {cent} c
        ),
        assign{n} AS (
          SELECT vec_id, q, cluster, dist2
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2, cluster) AS rk
                FROM scored{n})
          WHERE rk = 1
        )
"""


def _km_update_sql(n: int, prev: str) -> str:
    """Centroid recompute from assign{n}; empty clusters keep the
    previous centroid (COALESCE against ``prev``)."""
    return f"""
        cells{n} AS (
          SELECT a.cluster, i.i AS pos, a.q[i.i] AS c
          FROM assign{n} a,
               LATERAL (SELECT unnest(generate_series(1, {KM_DIM}))
                        AS i) i
        ),
        dims{n} AS (
          SELECT cluster, pos,
                 CAST(floor(SUM(c) * 1.0 / COUNT(*)) AS BIGINT) AS cq
          FROM cells{n} GROUP BY cluster, pos
        ),
        cent{n} AS (
          SELECT p.cluster, COALESCE(u.cqa, p.cq) AS cq
          FROM {prev} p
          LEFT JOIN (SELECT cluster, list(cq ORDER BY pos) AS cqa
                     FROM dims{n} GROUP BY cluster) u
            ON u.cluster = p.cluster
        )
"""


# The oracle side of the fit: vecs, init and two rounds give the final
# centroids cent2; the third round's argmin gives the assignment
# assign3 (vec_id, q, cluster, dist2).
KM_CENT2_CTES = f"""{_KM_VECS_SQL},
        {_km_round_sql(1, "init")},
        {_km_update_sql(1, "init")},
        {_km_round_sql(2, "cent1")},
        {_km_update_sql(2, "cent1")}"""

KM_FIT_CTES = f"""{KM_CENT2_CTES},
        {_km_round_sql(3, "cent2")}"""

# Cluster x label contingency table of assign3 (km_contingency's twin).
KM_CONT_CTE = """cont AS (
          SELECT a.cluster, e.label, CAST(COUNT(*) AS BIGINT) AS c
          FROM assign3 a JOIN embeddings e ON e.vec_id = a.vec_id
          GROUP BY a.cluster, e.label
        )"""


def _km_assign(vecs, cents):
    """Score every vector against the broadcast centroid relation and
    keep the (dist2, cluster) argmin — one Lloyd assignment pass."""
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "q", "cluster", sq_dist("q", "cq").alias("dist2")
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cluster")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


def _km_update(assigned, prev):
    """Floored exact-integer-mean centroid recompute; empty clusters
    keep the previous centroid (COALESCE, mirrored in the oracles)."""
    cells = assigned.selectExpr("cluster", "posexplode(q) as (pos, c)")
    dims = cells.groupBy("cluster", "pos").agg(
        F.floor(F.sum("c") * 1.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("cq")
    )
    arrs = (
        dims.groupBy("cluster")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "cq"))).alias("s")
        )
        .select("cluster", F.expr("transform(s, x -> x.cq)").alias("cqa"))
    )
    return (
        prev.select("cluster", F.col("cq").alias("prev_cq"))
        .join(arrs, "cluster", "left")
        .select("cluster", F.coalesce("cqa", "prev_cq").alias("cq"))
    )


def _km_fit(vecs):
    """Three unrolled Lloyd rounds from the deterministic seed (the 4
    smallest vec_ids); returns (final centroids cent2, final
    assignments assign3)."""
    init = (
        vecs.orderBy("vec_id")
        .limit(KM_K)
        .select(
            # BOUNDED: KM_K-row relation (LIMIT above)
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).alias("cluster"),
            F.col("q").alias("cq"),
        )
    )
    a1 = _km_assign(vecs, init)
    c1 = _km_update(a1, init)
    a2 = _km_assign(vecs, c1)
    c2 = _km_update(a2, c1)
    a3 = _km_assign(vecs, c2)
    return c2, a3


def km_fit_memo(spark, d):
    """Snapshotted (cent2, assign3) of the shared Lloyd fit: every
    consumer pays a file re-read, not three scoring passes."""

    def write(path):
        c2, a3 = _km_fit(quantized_vecs(load(spark, d, "embeddings")))
        write_parquet(c2, os.path.join(path, "cent2"))
        write_parquet(a3, os.path.join(path, "assign3"))

    path = snapshot(spark, d, "km_fit", write)
    return (
        spark.read.parquet(os.path.join(path, "cent2")),
        spark.read.parquet(os.path.join(path, "assign3")),
    )


def km_contingency(spark, d):
    """(cluster, label, c): the memoized assignment joined to the
    fixture's ground-truth label, one combinable (cluster, label)
    count — k x |labels| cells (KM_CONT_CTE's Spark side)."""
    emb = load(spark, d, "embeddings").select("vec_id", "label")
    _, assign = km_fit_memo(spark, d)
    return (
        assign.select("vec_id", "cluster")
        .join(emb, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )


# --------------------------------------------------------------------------
# Declared gradient-descent logistic regression (unrolled full-batch)
# --------------------------------------------------------------------------

LR_RATE = 2.0  # full-batch learning rate; 3 unrolled steps

_LR_BASE_SQL = """
        feats AS (
          SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
                     AS y,
                 value / 100.0 AS x1,
                 hour(ts) / 24.0 AS x2
          FROM events
        ),
        n AS (SELECT COUNT(*) AS n FROM feats),
        it0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)
"""


def _lr_step_sql(i: int) -> str:
    """One unrolled GD step: exact-decimal gradient sums against
    it{i-1}'s weights, then the identical double update expression."""
    p = (
        f"1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2)))"
    )
    return f"""
        grad{i} AS (
          SELECT
            CAST(SUM(CAST(({p} - f.y) AS DECIMAL(30,10))) AS DOUBLE)
                AS g0,
            CAST(SUM(CAST(({p} - f.y) * f.x1 AS DECIMAL(30,10)))
                 AS DOUBLE) AS g1,
            CAST(SUM(CAST(({p} - f.y) * f.x2 AS DECIMAL(30,10)))
                 AS DOUBLE) AS g2
          FROM feats f, it{i - 1} w
        ),
        it{i} AS (
          SELECT w.w0 - {LR_RATE} * g.g0 / n.n AS w0,
                 w.w1 - {LR_RATE} * g.g1 / n.n AS w1,
                 w.w2 - {LR_RATE} * g.g2 / n.n AS w2
          FROM it{i - 1} w, grad{i} g, n
        )
"""


# The oracle side of the fit: feats, n and the weights it0..it3.
LR_FIT_CTES = f"""{_LR_BASE_SQL},
    {_lr_step_sql(1)},
    {_lr_step_sql(2)},
    {_lr_step_sql(3)}"""

# it3's scores p in ten floor(p*10) bins (lr_decile_bins's twin): per
# bin the row count, the positives and the exact decimal score sum.
LR_BINS_CTES = f"""{LR_FIT_CTES},
    scored AS (
      SELECT f.y,
             1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2)))
                 AS p
      FROM feats f, it3 w
    ),
    bins AS (
      SELECT CAST(least(floor(p * 10.0), 9) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pos,
             SUM(CAST(p AS DECIMAL(30,10))) AS sp
      FROM scored
      GROUP BY CAST(least(floor(p * 10.0), 9) AS BIGINT)
    )"""


# Weight snapshot: the consumers share this fit, and the UNROLLED
# 3-step lineage embeds the events scan 15 times in each consumer's
# plan — re-fitting per key (and per bench rep) measured 3-8 s each.
# The 1-row weights snapshot is parquet; the double roundtrip is
# exact, so consumers score with bit-identical weights and the
# oracles keep replaying the decimal-GD steps.


def lr_fit(spark, d):
    """(feats, n, w3): the 3-step full-batch GD fit of q_ml_logreg.
    w3 is the memoized 1-row weight snapshot (module comment)."""
    ev = load(spark, d, "events")
    feats = ev.select(
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("y"),
        (F.col("value") / 100.0).alias("x1"),
        (F.hour("ts") / 24.0).alias("x2"),
    )
    n = feats.agg(F.count(F.lit(1)).alias("n"))

    def step(weights):
        z = (
            F.col("w0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
        )
        p = 1.0 / (1.0 + F.exp(-z))
        g = (
            feats.crossJoin(F.broadcast(weights))
            .agg(
                F.sum((p - F.col("y")).cast(DEC)).cast("double").alias("g0"),
                F.sum(((p - F.col("y")) * F.col("x1")).cast(DEC))
                .cast("double")
                .alias("g1"),
                F.sum(((p - F.col("y")) * F.col("x2")).cast(DEC))
                .cast("double")
                .alias("g2"),
            )
        )
        return (
            weights.crossJoin(F.broadcast(g))
            .crossJoin(F.broadcast(n))
            .select(
                (F.col("w0") - LR_RATE * F.col("g0") / F.col("n")).alias("w0"),
                (F.col("w1") - LR_RATE * F.col("g1") / F.col("n")).alias("w1"),
                (F.col("w2") - LR_RATE * F.col("g2") / F.col("n")).alias("w2"),
            )
        )

    def write(path):
        it0 = spark.range(1).select(
            F.lit(0.0).alias("w0"),
            F.lit(0.0).alias("w1"),
            F.lit(0.0).alias("w2"),
        )
        write_parquet(step(step(step(it0))), path)

    path = snapshot(spark, d, "lr_fit_w3", write)
    return feats, n, spark.read.parquet(path)


def lr_decile_bins(spark, d):
    """(bin, nb, n_pos, sp): the fitted scores in ten floor(p*10) bins
    (LR_BINS_CTES's Spark side). The sigmoid is an identical-input
    double on both engines, so a p exactly at a bin edge lands in the
    same bin; sp is the exact decimal score sum. Plan: one map-side
    broadcast of the 1-row weights into the feature scan and ONE
    combinable 10-group agg."""
    feats, _, w3 = lr_fit(spark, d)
    z = F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    p = 1.0 / (1.0 + F.exp(-z))
    scored = feats.crossJoin(F.broadcast(w3)).select("y", p.alias("p"))
    return scored.groupBy(
        F.least(F.floor(F.col("p") * 10.0), F.lit(9))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.col("p").cast(DEC)).alias("sp"),
    )


# --------------------------------------------------------------------------
# Histogram split search (decision stump, depth-2 tree, GBM round)
# --------------------------------------------------------------------------

# Candidate thresholds are integer feature buckets, so the split search
# runs over a bucket-bounded relation: the "hist" method of distributed
# tree learners (XGBoost/LightGBM). Raw rows collapse to per-bucket
# sufficient statistics (n, s) in one combinable agg, and every
# threshold's left/right sums come from ONE prefix-sum window over the
# buckets. The scan dominates and the search is metadata-sized; a
# depth-k tree repeats it per node (k scans, no row-level sort or pair
# join). The Spark histogram expands each row to (feature, bucket) with
# one stack() map-side, so all features share ONE scan and ONE exchange:
# a union of per-feature group-bys pays both per feature (the depth-2
# tree measured 48 -> 16 scans and 38 -> 18 exchanges). The oracles
# keep one UNION ALL branch per feature; only the rows must agree. All
# sums are exact integers; a score crossing an ordering is a double of
# them written identically on both engines and floored to an integer.


def split_hist(df, feats, stat, part_cols=()):
    """(part_cols..., feature, bucket, n, s): one histogram per feature
    of ``df``. ``feats`` maps each feature name to its integer bucket
    column; ``s`` sums the integer ``stat`` column per bucket."""
    pairs = ", ".join(f"'{f}', {c}" for f, c in feats.items())
    ex = df.select(
        *part_cols,
        stat,
        F.expr(f"stack({len(feats)}, {pairs})").alias("feature", "bucket"),
    )
    return ex.groupBy(*part_cols, "feature", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(stat).cast("long").alias("s"),
    )


def split_hist_sql(src, feats, stat, part_cols=()):
    """split_hist's DuckDB side over the relation ``src``."""
    part = "".join(f"{c}, " for c in part_cols)
    return "\n      UNION ALL\n      ".join(
        f"SELECT {part}'{f}' AS feature, {c} AS bucket, COUNT(*) AS n,"
        f" CAST(SUM({stat}) AS BIGINT) AS s FROM {src} GROUP BY {part}{c}"
        for f, c in feats.items()
    )


def split_prefix(buckets, part_cols=()):
    """(part_cols..., feature, threshold, nl, sl, nt, st): every
    threshold of a split_hist relation that leaves both sides
    non-empty, with the left side's sums (buckets < threshold) and the
    node's totals."""
    keys = [*part_cols, "feature"]
    tot = buckets.groupBy(*keys).agg(
        F.sum("n").alias("nt"), F.sum("s").alias("st")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = buckets.join(tot, keys).select(
        *keys,
        "bucket",
        "nt",
        "st",
        F.sum("n").over(w).alias("nl"),
        F.sum("s").over(w).alias("sl"),
    )
    nl, nt = F.col("nl"), F.col("nt")
    return pre.filter((nl > 0) & (nt - nl > 0)).select(
        *keys, (F.col("bucket") + 1).alias("threshold"), "nl", "sl", "nt", "st"
    )


def split_prefix_ctes(buckets, part_cols=()):
    """split_prefix's DuckDB side: CTEs ``{buckets}_tot``,
    ``{buckets}_pre`` and the result ``{buckets}_split`` over the
    bucket CTE ``buckets``."""
    keys = ", ".join([*part_cols, "feature"])
    bkeys = ", ".join(f"b.{k}" for k in [*part_cols, "feature"])
    on = " AND ".join(f"t.{k} = b.{k}" for k in [*part_cols, "feature"])
    return f"""
    {buckets}_tot AS (
      SELECT {keys}, CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(s) AS BIGINT) AS st
      FROM {buckets} GROUP BY {keys}
    ),
    {buckets}_pre AS (
      SELECT {bkeys}, b.bucket, t.nt, t.st,
             CAST(SUM(b.n) OVER w AS BIGINT) AS nl,
             CAST(SUM(b.s) OVER w AS BIGINT) AS sl
      FROM {buckets} b JOIN {buckets}_tot t ON {on}
      WINDOW w AS (PARTITION BY {bkeys} ORDER BY b.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    {buckets}_split AS (
      SELECT {keys}, bucket + 1 AS threshold, nl, sl, nt, st
      FROM {buckets}_pre WHERE nl > 0 AND nt - nl > 0
    )"""


# Gini scores of a split_prefix row whose s counts positives:
# weighted child Gini of the split and the node's own Gini, floor(x*1e9).
GINI_Q9_SQL = """CAST(floor((
                 (2.0 * sl * (nl - sl)) / nl
                 + (2.0 * (st - sl) * ((nt - nl) - (st - sl)))
                   / (nt - nl)
             ) / nt * 1000000000.0) AS BIGINT)"""

GINI_ROOT_Q9_SQL = """CAST(floor(2.0 * st * (nt - st) / nt / nt
                        * 1000000000.0) AS BIGINT)"""


def gini_q9():
    """GINI_Q9_SQL's Spark side."""
    nl, sl, nt, st = (F.col(c) for c in ("nl", "sl", "nt", "st"))
    return F.floor(
        (2.0 * sl * (nl - sl) / nl
         + 2.0 * (st - sl) * ((nt - nl) - (st - sl)) / (nt - nl))
        / nt
        * 1000000000.0
    ).cast("long")


def gini_root_q9():
    """GINI_ROOT_Q9_SQL's Spark side."""
    nt, st = F.col("nt"), F.col("st")
    return F.floor(2.0 * st * (nt - st) / nt / nt * 1000000000.0).cast("long")
