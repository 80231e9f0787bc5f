"""Round-9 batch K: lagged-predictor causality testing, equivalence
testing, and recursive/glob file-tree ingestion.

New keys (SURVEY.md §2B):
- q_ts_granger    — Granger causality (lag-1): does yesterday's click
  count predict today's purchase count beyond yesterday's purchases?
  Closed-form OLS via Cramer's rule on exact integer moments;
  restricted-vs-unrestricted F in micro
- q_ml_tost       — TOST equivalence test (two one-sided Welch t's)
  between two order-priority groups at a data-derived 1% margin
- q_source_glob_tree — partitioned text-tree write + two read paths:
  partition-discovery read (lang column from directories) and
  recursiveFileLookup + pathGlobFilter raw read; counts tie out

All declared; r8 output policy.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, warehouse_path
from .behavior import DAY_IDX_SQL, day_idx

# --------------------------------------------------------------------------
# Granger causality, lag 1
# --------------------------------------------------------------------------
#
# Unrestricted: y_t = a + b·y_{t−1} + c·x_{t−1}; restricted drops the
# cross term. Both fits close in exact integer moments (daily counts)
# pushed through identical Cramer-determinant double chains; the test
# statistic F = (RSS_r − RSS_u) / (RSS_u / (n − 3)). y = purchases,
# x = clicks. At 100 TB the only corpus-scale work is the daily
# collapse — the lagged design matrix is calendar-bounded.

_GRANGER_MOMENTS = """
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(y1) AS BIGINT) AS DOUBLE) AS sy1,
             CAST(CAST(SUM(x1) AS BIGINT) AS DOUBLE) AS sx1,
             CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy,
             CAST(CAST(SUM(y1 * y1) AS BIGINT) AS DOUBLE) AS sy1y1,
             CAST(CAST(SUM(x1 * x1) AS BIGINT) AS DOUBLE) AS sx1x1,
             CAST(CAST(SUM(y1 * x1) AS BIGINT) AS DOUBLE) AS sy1x1,
             CAST(CAST(SUM(y * y1) AS BIGINT) AS DOUBLE) AS syy1,
             CAST(CAST(SUM(y * x1) AS BIGINT) AS DOUBLE) AS syx1
      FROM design
"""

# Cramer solve of [[n,sy1,sx1],[sy1,sy1y1,sy1x1],[sx1,sy1x1,sx1x1]]
# · [a,b,c] = [sy,syy1,syx1]; RSS via Σ(y−ŷ)² = syy − a·sy − b·syy1
# − c·syx1 (normal equations). Identical text on both engines.
_GRANGER_SOLVE = """
      n * (sy1y1 * sx1x1 - sy1x1 * sy1x1)
      - sy1 * (sy1 * sx1x1 - sy1x1 * sx1)
      + sx1 * (sy1 * sy1x1 - sy1y1 * sx1) AS det,
      sy * (sy1y1 * sx1x1 - sy1x1 * sy1x1)
      - sy1 * (syy1 * sx1x1 - sy1x1 * syx1)
      + sx1 * (syy1 * sy1x1 - sy1y1 * syx1) AS det_a,
      n * (syy1 * sx1x1 - sy1x1 * syx1)
      - sy * (sy1 * sx1x1 - sy1x1 * sx1)
      + sx1 * (sy1 * syx1 - syy1 * sx1) AS det_b,
      n * (sy1y1 * syx1 - syy1 * sy1x1)
      - sy1 * (sy1 * syx1 - syy1 * sx1)
      + sy * (sy1 * sy1x1 - sy1y1 * sx1) AS det_c
"""

_GRANGER_ORACLE = f"""
    WITH daily AS (
      SELECT {DAY_IDX_SQL} AS d,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS BIGINT) AS yp,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                           ELSE 0 END) AS BIGINT) AS xc
      FROM events GROUP BY d
    ),
    design AS (
      SELECT a.yp AS y, b.yp AS y1, b.xc AS x1
      FROM daily a JOIN daily b ON b.d = a.d - 1
    ),
    m AS ({_GRANGER_MOMENTS}),
    solved AS (
      SELECT *, {_GRANGER_SOLVE}
      FROM m
    ),
    fits AS (
      SELECT n,
             det_c / det AS c_hat,
             syy - (det_a / det) * sy - (det_b / det) * syy1
                 - (det_c / det) * syx1 AS rss_u,
             syy
             - ((sy - ((n * syy1 - sy * sy1)
                       / (n * sy1y1 - sy1 * sy1)) * sy1) / n) * sy
             - ((n * syy1 - sy * sy1)
                / (n * sy1y1 - sy1 * sy1)) * syy1 AS rss_r
      FROM solved
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(floor(c_hat * 1000000.0) AS BIGINT) AS c_micro,
           CAST(floor((rss_r - rss_u) / (rss_u / (n - 3.0))
                      * 1000000.0) AS BIGINT) AS f_micro
    FROM fits
"""


@query("q_ts_granger", oracle=_GRANGER_ORACLE)
def q_ts_granger(spark, d):
    """Lag-1 Granger causality of clicks on purchases (module
    comment). One corpus collapse to the daily grain, a lag-1
    self-join on the calendar, one 10-moment agg, pure expression
    math after."""
    ev = load(spark, d, "events")
    daily = ev.groupBy(day_idx().alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("yp"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("xc"),
    )
    a = daily.select("d", F.col("yp").alias("y"))
    b = daily.select(
        (F.col("d") + 1).alias("d"),
        F.col("yp").alias("y1"),
        F.col("xc").alias("x1"),
    )
    design = a.join(b, "d").select("y", "y1", "x1")
    m = design.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("y1").cast("double").alias("sy1"),
        F.sum("x1").cast("double").alias("sx1"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("y1") * F.col("y1")).cast("double").alias("sy1y1"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("sx1x1"),
        F.sum(F.col("y1") * F.col("x1")).cast("double").alias("sy1x1"),
        F.sum(F.col("y") * F.col("y1")).cast("double").alias("syy1"),
        F.sum(F.col("y") * F.col("x1")).cast("double").alias("syx1"),
    )
    solved = m.selectExpr("*", *[
        e.strip() for e in _GRANGER_SOLVE.split(",\n")
    ])
    fits = solved.selectExpr(
        "n",
        "det_c / det AS c_hat",
        "syy - (det_a / det) * sy - (det_b / det) * syy1"
        " - (det_c / det) * syx1 AS rss_u",
        "syy"
        " - ((sy - ((n * syy1 - sy * sy1)"
        "           / (n * sy1y1 - sy1 * sy1)) * sy1) / n) * sy"
        " - ((n * syy1 - sy * sy1)"
        "    / (n * sy1y1 - sy1 * sy1)) * syy1 AS rss_r",
    )
    return fits.selectExpr(
        "cast(n as bigint) AS n_days",
        "cast(floor(c_hat * 1000000.0d) as bigint) AS c_micro",
        "cast(floor((rss_r - rss_u) / (rss_u / (n - 3.0d))"
        " * 1000000.0d) as bigint) AS f_micro",
    )


# --------------------------------------------------------------------------
# TOST equivalence test
# --------------------------------------------------------------------------
#
# The question q_ml_ttest can't answer: are two groups the SAME
# within a margin? Two one-sided Welch t's against ±margin (margin =
# 1% of the pooled mean, derived from the same exact moments):
# equivalent iff min(t_lower, t_upper) > 1.645 (alpha = 0.05). Every
# moment is an exact decimal integer; the t chains and the margin are
# identical double expressions.

_TOST_A = "2-HIGH"
_TOST_B = "3-MEDIUM"

_TOST_ORACLE = f"""
    WITH grp AS (
      SELECT o_orderpriority AS g,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS s1,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS s2
      FROM orders
      WHERE o_orderpriority IN ('{_TOST_A}', '{_TOST_B}')
      GROUP BY o_orderpriority
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN g = '{_TOST_A}' THEN n END) AS n1,
        MAX(CASE WHEN g = '{_TOST_A}' THEN s1 END) AS s1a,
        MAX(CASE WHEN g = '{_TOST_A}' THEN s2 END) AS s2a,
        MAX(CASE WHEN g = '{_TOST_B}' THEN n END) AS n2,
        MAX(CASE WHEN g = '{_TOST_B}' THEN s1 END) AS s1b,
        MAX(CASE WHEN g = '{_TOST_B}' THEN s2 END) AS s2b
      FROM grp
    ),
    derived AS (
      SELECT n1, n2,
             s1a / n1 - s1b / n2 AS diff,
             (s1a + s1b) / (n1 + n2) * 0.01 AS margin,
             sqrt((s2a - s1a * s1a / n1) / (n1 - 1.0) / n1
                  + (s2b - s1b * s1b / n2) / (n2 - 1.0) / n2) AS se
      FROM wide
    )
    SELECT n1, n2,
           CAST(floor(diff * 1000.0) AS BIGINT) AS diff_milli,
           CAST(floor(margin * 1000.0) AS BIGINT) AS margin_milli,
           CAST(floor((diff + margin) / se * 1000000.0) AS BIGINT)
               AS t_lower_micro,
           CAST(floor((margin - diff) / se * 1000000.0) AS BIGINT)
               AS t_upper_micro,
           CAST(CASE WHEN (diff + margin) / se > 1.645
                      AND (margin - diff) / se > 1.645
                     THEN 1 ELSE 0 END AS BIGINT) AS equivalent
    FROM derived
"""


@query("q_ml_tost", oracle=_TOST_ORACLE)
def q_ml_tost(spark, d):
    """TOST equivalence test between two order-priority groups
    (module comment): one combinable group-moment agg, a 2-row pivot,
    identical Welch chains."""
    orders = load(spark, d, "orders")
    cents = F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
    grp = (
        orders.filter(F.col("o_orderpriority").isin(_TOST_A, _TOST_B))
        .groupBy(F.col("o_orderpriority").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents.cast("decimal(30,0)")).cast("double").alias("s1"),
            F.sum((cents * cents).cast("decimal(38,0)"))
            .cast("double")
            .alias("s2"),
        )
    )
    wide = grp.agg(
        F.max(F.when(F.col("g") == _TOST_A, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == _TOST_A, F.col("s1"))).alias("s1a"),
        F.max(F.when(F.col("g") == _TOST_A, F.col("s2"))).alias("s2a"),
        F.max(F.when(F.col("g") == _TOST_B, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == _TOST_B, F.col("s1"))).alias("s1b"),
        F.max(F.when(F.col("g") == _TOST_B, F.col("s2"))).alias("s2b"),
    )
    derived = wide.selectExpr(
        "n1",
        "n2",
        "s1a / n1 - s1b / n2 AS diff",
        "(s1a + s1b) / (n1 + n2) * 0.01d AS margin",
        "sqrt((s2a - s1a * s1a / n1) / (n1 - 1.0d) / n1"
        " + (s2b - s1b * s1b / n2) / (n2 - 1.0d) / n2) AS se",
    )
    return derived.selectExpr(
        "n1",
        "n2",
        "cast(floor(diff * 1000.0d) as bigint) AS diff_milli",
        "cast(floor(margin * 1000.0d) as bigint) AS margin_milli",
        "cast(floor((diff + margin) / se * 1000000.0d) as bigint)"
        " AS t_lower_micro",
        "cast(floor((margin - diff) / se * 1000000.0d) as bigint)"
        " AS t_upper_micro",
        "cast(case when (diff + margin) / se > 1.645d"
        " and (margin - diff) / se > 1.645d then 1 else 0 end"
        " as bigint) AS equivalent",
    )


# --------------------------------------------------------------------------
# Recursive / glob file-tree ingestion
# --------------------------------------------------------------------------
#
# The directory-layout half of the sources matrix: a documents slice
# written as a lang-partitioned text tree (lang=en/part-*.txt ...),
# then consumed two ways — (a) partition-discovery read where the
# lang column materializes from directory names and partition pruning
# applies, (b) recursiveFileLookup + pathGlobFilter raw-line read
# that ignores the partition structure entirely. Per-lang counts from
# (a) and the global line count from (b) must tie to the arithmetic
# rebuild — proving both read paths see exactly the written tree.

_GLOB_ORACLE = """
    WITH slice AS (
      SELECT doc_id, lang FROM documents WHERE doc_id % 7 = 0
    ),
    per_lang AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM slice GROUP BY lang
    )
    SELECT p.lang, p.n_docs, p.id_sum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM slice)
               AS total_lines_recursive
    FROM per_lang p
    ORDER BY p.lang
"""


@query("q_source_glob_tree", oracle=_GLOB_ORACLE)
def q_source_glob_tree(spark, d):
    """Partitioned-tree write + dual read paths (module comment):
    partition-discovery read per lang, recursive glob read for the
    global line count."""
    path = warehouse_path("glob_tree", d)
    docs = (
        load(spark, d, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select(
            F.col("doc_id").cast("string").alias("value"), "lang"
        )
    )
    docs.write.mode("overwrite").partitionBy("lang").text(path)
    # (a) partition-discovery read: lang comes from directory names
    part_read = (
        spark.read.text(path)
        .withColumn(
            "lang",
            F.regexp_extract(F.input_file_name(), r"lang=([^/]+)/", 1),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("value").cast("long")).alias("id_sum"),
        )
    )
    # (b) recursive glob read, partition structure ignored
    raw = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.txt")
        .text(path)
        .agg(F.count(F.lit(1)).alias("total_lines_recursive"))
    )
    return (
        part_read.crossJoin(F.broadcast(raw))
        .select("lang", "n_docs", "id_sum", "total_lines_recursive")
        .orderBy("lang")
    )
