"""Round-9 batch I: external cluster validation, link prediction,
volatility bands, and consistent pseudonymization.

New keys (SURVEY.md §2B):
- q_ml_cluster_purity — label purity of the shared Lloyd clusters
  (the embeddings fixture carries a ground-truth label column):
  per-cluster majority-label share in exact ppm
- q_ml_rand_index     — adjusted Rand index between the Lloyd
  assignment and the label partition, from exact pair-count
  combinatorics
- q_graph_adamic_adar — Adamic-Adar link prediction on the bipartite
  order-part graph: top-20 part pairs by Σ 1/ln(basket size) over
  shared orders, decimal-quantized term sums
- q_ts_bollinger      — 7-day rolling Bollinger bands per event type
  with 2-sigma breach counts (exact integer window sums)
- q_pii_tokenize      — consistent pseudonymization: h56-based
  format-stable tokens for customer names, with collision and
  referential-integrity audits

All declared; r8 output policy.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import h56, sql_h56
from .behavior import DAY_IDX_SQL, day_idx
from .fits import KM_CONT_CTE, KM_FIT_CTES, km_contingency

# --------------------------------------------------------------------------
# Label purity of the Lloyd clusters
# --------------------------------------------------------------------------
#
# External cluster validation against the fixture's ground-truth
# label: purity_c = max_label count / |c|. One join of the memoized
# assignment to the label column, one (cluster, label) agg, one
# per-cluster argmax — all combinable; the contingency table is
# k x |labels| cells.


_PURITY_ORACLE = f"""
        WITH {KM_FIT_CTES},
        {KM_CONT_CTE},
        best AS (
          SELECT cluster, label AS top_label, c AS top_n FROM (
            SELECT cluster, label, c,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                                      ORDER BY c DESC, label) AS rk
            FROM cont
          ) WHERE rk = 1
        ),
        sizes AS (
          SELECT cluster, CAST(SUM(c) AS BIGINT) AS n
          FROM cont GROUP BY cluster
        )
        SELECT s.cluster, s.n,
               CAST(b.top_label AS BIGINT) AS top_label, b.top_n,
               CAST(b.top_n * 1000000 // s.n AS BIGINT) AS purity_ppm
        FROM sizes s JOIN best b ON b.cluster = s.cluster
        ORDER BY s.cluster
    """


@query("q_ml_cluster_purity", oracle=_PURITY_ORACLE)
def q_ml_cluster_purity(spark, d):
    """Per-cluster majority-label purity of the memoized Lloyd fit
    (module comment): one label join, one contingency agg, one
    cluster-partitioned argmax over |labels| rows."""
    cont = km_contingency(spark, d)
    w = Window.partitionBy("cluster").orderBy(F.desc("c"), "label")
    best = (
        cont.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster",
            F.col("label").cast("long").alias("top_label"),
            F.col("c").alias("top_n"),
        )
    )
    sizes = cont.groupBy("cluster").agg(F.sum("c").alias("n"))
    return (
        sizes.join(best, "cluster")
        .selectExpr(
            "cluster",
            "n",
            "top_label",
            "top_n",
            "top_n * 1000000L div n AS purity_ppm",
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# Adjusted Rand index vs the label partition
# --------------------------------------------------------------------------
#
# ARI from exact pair-count combinatorics over the k x |labels|
# contingency table: a = Σ C(n_ij,2), b1 = Σ C(n_i.,2),
# b2 = Σ C(n_.j,2), N = C(n,2);
# ARI = (a − b1·b2/N) / ((b1+b2)/2 − b1·b2/N). All counts are exact
# integers; the closing expression is one identical double chain
# (products overflow int64 at corpus scale), micro-floored.


_ARI_ORACLE = f"""
        WITH {KM_FIT_CTES},
        {KM_CONT_CTE},
        parts AS (
          SELECT
            (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) FROM cont)
                AS a,
            (SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) FROM
               (SELECT CAST(SUM(c) AS BIGINT) AS s FROM cont
                GROUP BY cluster)) AS b1,
            (SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) FROM
               (SELECT CAST(SUM(c) AS BIGINT) AS s FROM cont
                GROUP BY label)) AS b2,
            (SELECT CAST(SUM(c) AS BIGINT) FROM cont) AS n
        )
        SELECT a, b1, b2, n,
               CAST(floor(
                 (CAST(a AS DOUBLE)
                  - CAST(b1 AS DOUBLE) * b2
                    / (CAST(n AS DOUBLE) * (n - 1) / 2.0))
                 / ((CAST(b1 AS DOUBLE) + b2) / 2.0
                    - CAST(b1 AS DOUBLE) * b2
                      / (CAST(n AS DOUBLE) * (n - 1) / 2.0))
                 * 1000000.0) AS BIGINT) AS ari_micro
        FROM parts
    """


@query("q_ml_rand_index", oracle=_ARI_ORACLE)
def q_ml_rand_index(spark, d):
    """Adjusted Rand index between the Lloyd assignment and the label
    partition (module comment). One contingency agg over the memoized
    assignments; everything downstream is cell-count-sized."""
    cont = km_contingency(spark, d)
    a = cont.agg(
        F.sum(F.expr("c * (c - 1) div 2")).alias("a"),
        F.sum("c").alias("n"),
    )
    b1 = (
        cont.groupBy("cluster")
        .agg(F.sum("c").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) div 2")).alias("b1"))
    )
    b2 = (
        cont.groupBy("label")
        .agg(F.sum("c").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) div 2")).alias("b2"))
    )
    return (
        a.crossJoin(F.broadcast(b1))
        .crossJoin(F.broadcast(b2))
        .selectExpr(
            "a",
            "b1",
            "b2",
            "n",
            "cast(floor("
            " (cast(a as double)"
            "  - cast(b1 as double) * b2"
            "    / (cast(n as double) * (n - 1) / 2.0d))"
            " / ((cast(b1 as double) + b2) / 2.0d"
            "    - cast(b1 as double) * b2"
            "      / (cast(n as double) * (n - 1) / 2.0d))"
            " * 1000000.0d) as bigint) AS ari_micro",
        )
    )


# --------------------------------------------------------------------------
# Adamic-Adar link prediction on the order-part bipartite graph
# --------------------------------------------------------------------------
#
# AA(p1, p2) = Σ_{orders containing both} 1/ln(basket size) — the
# inverse-log weighting that makes small deliberate baskets count
# more than big catch-all ones (the reason AA beats q_basket_lift's
# raw co-counts as a ranking signal). A shared order has ≥2 parts, so
# ln ≥ ln 2 > 0. Grain note: the customer-part projection is ~30
# customers per part on this fixture (pair fan-out C(30,2) per part,
# an 8M-pair shuffle measured at 14 s); the order-part projection has
# ~4 parts per basket, so fan-out is C(4,2) — the same linear-in-
# baskets bound q_basket_lift ships. Basket-size cap = 8 bounds the
# worst case.

_AA_BASKET_CAP = 8

_AA_ORACLE = f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
      FROM lineitem
    ),
    bsize AS (
      SELECT ok, CAST(COUNT(*) AS BIGINT) AS nb
      FROM baskets GROUP BY ok
    ),
    keep AS (
      SELECT b.ok, b.part, s.nb
      FROM baskets b JOIN bsize s ON s.ok = b.ok
      WHERE s.nb BETWEEN 2 AND {_AA_BASKET_CAP}
    ),
    cand AS (
      SELECT a.part AS part_a, b.part AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(1.0 / ln(CAST(a.nb AS DOUBLE))
                           AS DECIMAL(30,10))) AS DOUBLE) AS aa
      FROM keep a JOIN keep b
        ON a.ok = b.ok AND a.part < b.part
      GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, n_common,
           CAST(floor(aa * 1000000.0) AS BIGINT) AS aa_micro
    FROM cand
    ORDER BY aa_micro DESC, part_a, part_b
    LIMIT 20
"""


@query("q_graph_adamic_adar", oracle=_AA_ORACLE)
def q_graph_adamic_adar(spark, d):
    """Adamic-Adar top-20 part-pair link predictions over shared
    orders (module comment): distinct basket collapse, size-capped
    postings self-equi-join on the order key, decimal-quantized
    inverse-log term sums, TakeOrdered top-20."""
    li = load(spark, d, "lineitem")
    grouped = (
        li.select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("part"),
        )
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("part")).alias("ps"))
        .filter(
            (F.size("ps") >= 2) & (F.size("ps") <= _AA_BASKET_CAP)
        )
    )
    # all C(nb,2) pairs generated MAP-SIDE from the ≤8-element sorted
    # array (one fused higher-order expression, no second join — the
    # baskets⋈bsize equi-join flipped to sort-merge at the 5x probe
    # and went superlinear, 6.7x at K=5; this form is one shuffle)
    pairs = grouped.select(
        F.expr(
            "1.0d / ln(cast(size(ps) as double)) AS w"
        ),
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps) - i - 1),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("pr"),
    ).select("pr.part_a", "pr.part_b", "w")
    cand = pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.col("w").cast("decimal(30,10)"))
        .cast("double")
        .alias("aa"),
    )
    return (
        cand.selectExpr(
            "part_a",
            "part_b",
            "n_common",
            "cast(floor(aa * 1000000.0d) as bigint) AS aa_micro",
        )
        .orderBy(F.desc("aa_micro"), "part_a", "part_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Bollinger bands with breach counts
# --------------------------------------------------------------------------
#
# Per event type: 7-day rolling mean/sigma of daily value cents (rows
# window over the calendar-bounded daily grain; window sums of exact
# integers), breach = |y − mean| > 2 sigma using the identical double
# chain on both engines. Warm-up rows (fewer than 7 days of history)
# are excluded on both sides.

_BOLL_W = 7

_BOLL_ORACLE = f"""
    WITH daily AS (
      SELECT event_type AS t,
             {DAY_IDX_SQL} AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM events GROUP BY t, d
    ),
    rolled AS (
      SELECT t, d, y,
             CAST(SUM(y) OVER w AS BIGINT) AS s1,
             CAST(SUM(y * y) OVER w AS BIGINT) AS s2,
             CAST(COUNT(*) OVER w AS BIGINT) AS n
      FROM daily
      WINDOW w AS (PARTITION BY t ORDER BY d
                   ROWS BETWEEN {_BOLL_W - 1} PRECEDING
                   AND CURRENT ROW)
    ),
    flagged AS (
      SELECT t,
             CASE WHEN (CAST(y AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                       > 2.0 * sqrt((CAST(n AS DOUBLE) * s2
                                     - CAST(s1 AS DOUBLE) * s1)
                                    / (CAST(n AS DOUBLE) * n))
                  THEN 1 ELSE 0 END AS up,
             CASE WHEN (CAST(s1 AS DOUBLE) / n - CAST(y AS DOUBLE))
                       > 2.0 * sqrt((CAST(n AS DOUBLE) * s2
                                     - CAST(s1 AS DOUBLE) * s1)
                                    / (CAST(n AS DOUBLE) * n))
                  THEN 1 ELSE 0 END AS dn
      FROM rolled WHERE n = {_BOLL_W}
    )
    SELECT t AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(up) AS BIGINT) AS n_breach_upper,
           CAST(SUM(dn) AS BIGINT) AS n_breach_lower
    FROM flagged
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q_ts_bollinger", oracle=_BOLL_ORACLE)
def q_ts_bollinger(spark, d):
    """Bollinger-band breach counts per event type (module comment):
    one combinable daily collapse, one type-partitioned rows window,
    one closing agg."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("t"),
        day_idx().alias("d"),
    ).agg(
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias(
            "y"
        )
    )
    w = (
        Window.partitionBy("t")
        .orderBy("d")
        .rowsBetween(-(_BOLL_W - 1), Window.currentRow)
    )
    rolled = daily.select(
        "t",
        "y",
        F.sum("y").over(w).alias("s1"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(F.col("n") == _BOLL_W)
    sigma = F.sqrt(
        (
            F.col("n").cast("double") * F.col("s2")
            - F.col("s1").cast("double") * F.col("s1")
        )
        / (F.col("n").cast("double") * F.col("n"))
    )
    mean = F.col("s1").cast("double") / F.col("n")
    flagged = rolled.select(
        "t",
        F.when(
            (F.col("y").cast("double") - mean) > 2.0 * sigma, 1
        )
        .otherwise(0)
        .alias("up"),
        F.when(
            (mean - F.col("y").cast("double")) > 2.0 * sigma, 1
        )
        .otherwise(0)
        .alias("dn"),
    )
    return (
        flagged.groupBy(F.col("t").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("up").alias("n_breach_upper"),
            F.sum("dn").alias("n_breach_lower"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Consistent pseudonymization (format-stable tokenization)
# --------------------------------------------------------------------------
#
# The privacy-pipeline primitive q_pii_redact doesn't cover: replace
# an identifier with a deterministic TOKEN that (a) is stable across
# tables so joins keep working, (b) leaks nothing of the original
# beyond equality. Token = 'c_' + zero-padded h56 of the name. The
# audit proves both properties as hash-checked columns: distinct
# tokens == distinct names (no collisions), and the orders->customer
# join cardinality is identical through the tokenized key.

_PII_TOKEN_ORACLE = f"""
    WITH tok AS (
      SELECT c_custkey, c_name,
             'c_' || lpad(CAST({sql_h56("c_name")} AS VARCHAR), 17, '0')
                 AS token
      FROM customer
    ),
    audit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_names,
             CAST(COUNT(DISTINCT token) AS BIGINT) AS n_tokens,
             MIN(token) AS min_token
      FROM tok
    ),
    joined AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_by_key
      FROM orders o JOIN tok t ON t.c_custkey = o.o_custkey
    ),
    joined_tok AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_by_token
      FROM (SELECT o.o_orderkey, t.token
            FROM orders o JOIN tok t ON t.c_custkey = o.o_custkey) x
      JOIN (SELECT DISTINCT token FROM tok) u ON u.token = x.token
    )
    SELECT a.n_customers, a.n_names, a.n_tokens,
           CAST(a.n_names - a.n_tokens AS BIGINT) AS n_collisions,
           a.min_token,
           j.n_orders_by_key, jt.n_orders_by_token
    FROM audit a CROSS JOIN joined j CROSS JOIN joined_tok jt
"""


@query("q_pii_tokenize", oracle=_PII_TOKEN_ORACLE)
def q_pii_tokenize(spark, d):
    """Consistent pseudonymization audit (module comment): one token
    projection, distinct-count collision audit, and a join-cardinality
    equality proof through the tokenized key."""
    cust = load(spark, d, "customer")
    orders = load(spark, d, "orders")
    tok = cust.select(
        "c_custkey",
        "c_name",
        F.expr(
            "concat('c_', lpad(cast("
            "cast(conv(substr(md5(c_name), 1, 14), 16, 10) as bigint)"
            " as string), 17, '0'))"
        ).alias("token"),
    )
    audit = tok.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count_distinct("c_name").alias("n_names"),
        F.count_distinct("token").alias("n_tokens"),
        F.min("token").alias("min_token"),
    )
    joined = orders.join(
        tok, orders.o_custkey == tok.c_custkey
    ).agg(F.count(F.lit(1)).alias("n_orders_by_key"))
    joined_tok = (
        orders.join(tok, orders.o_custkey == tok.c_custkey)
        .select("o_orderkey", "token")
        .join(tok.select("token").distinct(), "token")
        .agg(F.count(F.lit(1)).alias("n_orders_by_token"))
    )
    return (
        audit.crossJoin(F.broadcast(joined))
        .crossJoin(F.broadcast(joined_tok))
        .selectExpr(
            "n_customers",
            "n_names",
            "n_tokens",
            "n_names - n_tokens AS n_collisions",
            "min_token",
            "n_orders_by_key",
            "n_orders_by_token",
        )
    )
