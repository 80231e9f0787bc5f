"""Round-10 batch B: bitmap set algebra, k-hop closeness, SAX,
IQR fences, and peak detection.

New keys (SURVEY.md §2B):
- q_fn_bitmap_words  — chunked-bitmap set algebra: per-type user
  bitmaps as (word_idx, 63-bit word) rows, popcount distincts,
  word-aligned AND intersections, pairwise Jaccard in ppm
- q_graph_closeness  — k-hop harmonic closeness over the near-dup
  edge snapshot for a bounded seed panel (3 unrolled BFS rounds)
- q_ts_sax           — SAX symbolization of the per-type daily
  series (4-day PAA means, global quartile symbols, SAX string)
- q_dq_outlier_iqr   — Tukey IQR-fence outlier audit per event_type
- q_ts_peaks         — local-extrema detection with integer
  prominence on the daily grain

All declared; r8 output policy (BIGINT ppm/micro, floor on identical
doubles, SUM casts on the oracle side). The bitmap uses 63-bit words
(bit = user_id % 63) so no shift ever lands on the sign bit — DuckDB
and Spark then agree on <<, bitwise AND, OR-aggregation, and
popcount over plain BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from .behavior import TYPE_DAY_COUNTS_CTE, day_counts
from .bigrams import NEAR_DUP_SYM_CTES, near_dup_sym

# --------------------------------------------------------------------------
# Chunked-bitmap set algebra
# --------------------------------------------------------------------------
#
# The bitmap-index primitive behind fast COUNT DISTINCT and audience
# overlap: user ids chunk into 63-bit words (word_idx = id div 63,
# bit = id % 63), each (type, word_idx) cell ORs its bits into ONE
# BIGINT, and every set operation becomes word-aligned integer
# algebra — popcount for cardinality, AND-join for intersection.
# At 100 TB the word relation is |users|/63 rows per type (4000x
# smaller than the id list), the OR-agg is combinable map-side, and
# the intersection join is equi on word_idx — the same plan Druid/
# ClickHouse bitmap indexes run distributed.

_BITMAP_ORACLE = """
    WITH words AS (
      SELECT event_type, user_id // 63 AS word_idx,
             CAST(bit_or(1::BIGINT << CAST(user_id % 63 AS INTEGER))
                  AS BIGINT) AS w
      FROM events
      GROUP BY event_type, user_id // 63
    ),
    counts AS (
      SELECT event_type,
             CAST(SUM(bit_count(w)) AS BIGINT) AS n_users
      FROM words GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(SUM(bit_count(a.w & b.w)) AS BIGINT) AS n_both
      FROM words a
      JOIN words b ON b.word_idx = a.word_idx
                  AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b,
           ca.n_users AS n_a, cb.n_users AS n_b, i.n_both,
           CAST(i.n_both * 1000000
                // (ca.n_users + cb.n_users - i.n_both) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN counts ca ON ca.event_type = i.type_a
    JOIN counts cb ON cb.event_type = i.type_b
    ORDER BY i.type_a, i.type_b
"""


@query("q_fn_bitmap_words", oracle=_BITMAP_ORACLE)
def q_fn_bitmap_words(spark, d):
    """Chunked-bitmap set algebra (module comment): per-type 63-bit
    word bitmaps via one combinable bit_or agg, popcount
    cardinalities, word-aligned AND intersections, pairwise audience
    Jaccard in exact ppm. One corpus scan; everything after runs on
    the words relation."""
    ev = load(spark, d, "events").select("event_type", "user_id")
    words = ev.groupBy(
        "event_type", F.expr("user_id div 63").alias("word_idx")
    ).agg(
        F.expr(
            "bit_or(shiftleft(1L, cast(user_id % 63 as int)))"
        ).alias("w")
    )
    counts = words.groupBy("event_type").agg(
        F.sum(F.bit_count("w")).alias("n_users")
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "word_idx",
        F.col("w").alias("wa"),
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "word_idx",
        F.col("w").alias("wb"),
    )
    inter = (
        a.join(b, "word_idx")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.bit_count(F.col("wa").bitwiseAND(F.col("wb")))
            ).alias("n_both")
        )
    )
    ca = counts.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    cb = counts.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "n_both * 1000000L div (n_a + n_b - n_both)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# k-hop harmonic closeness centrality
# --------------------------------------------------------------------------

CLOSE_ROUNDS = 3
CLOSE_SEED_MOD = 50


def _closeness_oracle() -> str:
    ctes = [
        f"""seeds AS MATERIALIZED (
          SELECT DISTINCT src AS seed FROM sym
          WHERE src % {CLOSE_SEED_MOD} = 0
        )""",
        "v0 AS MATERIALIZED (SELECT seed, seed AS doc_id FROM seeds)",
        "f0 AS MATERIALIZED (SELECT seed, seed AS doc_id FROM seeds)",
    ]
    for r in range(1, CLOSE_ROUNDS + 1):
        ctes.append(f"""f{r} AS MATERIALIZED (
          SELECT DISTINCT f.seed, s.dst AS doc_id
          FROM f{r - 1} f JOIN sym s ON s.src = f.doc_id
          WHERE NOT EXISTS (SELECT 1 FROM v{r - 1} v
                            WHERE v.seed = f.seed
                              AND v.doc_id = s.dst)
        )""")
        ctes.append(f"""v{r} AS MATERIALIZED (
          SELECT seed, doc_id FROM v{r - 1}
          UNION ALL SELECT seed, doc_id FROM f{r}
        )""")
    reach = " UNION ALL ".join(
        f"SELECT seed, doc_id, {r} AS dist FROM f{r}"
        for r in range(1, CLOSE_ROUNDS + 1)
    )
    return f"""
        WITH {NEAR_DUP_SYM_CTES},
        {", ".join(ctes)},
        reach AS ({reach})
        SELECT seed,
               CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_d1,
               CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_d2,
               CAST(SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_d3,
               CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_micro
        FROM reach
        GROUP BY seed
        ORDER BY seed
    """


# ROUND-safe: the only ROUND is the driver-PROVEN q_dedup_ngram edge
# predicate (pass r4) in NEAR_DUP_EDGES_CTES, shared by the whole
# near-dup graph family.
@query("q_graph_closeness", oracle=_closeness_oracle())
def q_graph_closeness(spark, d):
    """k-hop harmonic closeness: for every seed in the bounded panel
    (edge endpoints with doc_id % mod = 0), 3 unrolled multi-seed BFS
    rounds over the memoized near-dup edge snapshot, then per-seed
    reach counts and the exact integer harmonic sum Σ 1e6 div dist —
    the 'how central is this document in its duplication
    neighborhood' readout next to PageRank (hubs score high, chain
    ends low). Every round is one (seed-tagged) frontier equi-join +
    anti-join, snapshot-sized; state is (seed, node) pairs bounded by
    panel x component size. The frontier dedups by (seed, node), so a
    node reached at two depths counts at the SHORTER one only —
    true BFS distance."""
    sym = near_dup_sym(spark, d).localCheckpoint()
    seeds = (
        sym.filter(F.col("src") % CLOSE_SEED_MOD == 0)
        .select(F.col("src").alias("seed"))
        .distinct()
        .localCheckpoint()
    )
    frontier = seeds.select("seed", F.col("seed").alias("doc_id"))
    visited = frontier
    layers = []
    for r in range(1, CLOSE_ROUNDS + 1):
        frontier = (
            sym.join(
                frontier.withColumnRenamed("doc_id", "src"), "src"
            )
            .select("seed", F.col("dst").alias("doc_id"))
            .distinct()
            .join(visited, ["seed", "doc_id"], "anti")
            .localCheckpoint()
        )
        visited = visited.unionAll(frontier).localCheckpoint()
        layers.append(frontier.withColumn("dist", F.lit(r)))
    reach = layers[0]
    for l in layers[1:]:
        reach = reach.unionAll(l)
    return (
        reach.groupBy("seed")
        .agg(
            F.sum(F.when(F.col("dist") == 1, 1).otherwise(0)).alias("n_d1"),
            F.sum(F.when(F.col("dist") == 2, 1).otherwise(0)).alias("n_d2"),
            F.sum(F.when(F.col("dist") == 3, 1).otherwise(0)).alias("n_d3"),
            F.sum(F.expr("1000000L div dist")).alias("harmonic_micro"),
        )
        .orderBy("seed")
    )


# --------------------------------------------------------------------------
# SAX symbolization of the daily series
# --------------------------------------------------------------------------

SAX_W = 4  # days per PAA window
SAX_ALPHA = 4  # alphabet size (quartile symbols a-d)

_SAX_ORACLE = f"""
    WITH {TYPE_DAY_COUNTS_CTE},
    paa AS (
      SELECT event_type, day_idx // {SAX_W} AS win,
             CAST(SUM(n) * 1000000 // COUNT(*) AS BIGINT) AS paa_micro
      FROM daily GROUP BY event_type, day_idx // {SAX_W}
    ),
    symed AS (
      SELECT event_type, win, paa_micro,
             ntile({SAX_ALPHA}) OVER (ORDER BY paa_micro, event_type,
                                      win) AS tile
      FROM paa
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(MIN(paa_micro) AS BIGINT) AS min_paa_micro,
           CAST(MAX(paa_micro) AS BIGINT) AS max_paa_micro,
           string_agg(chr(CAST(96 + tile AS INTEGER)), ''
                      ORDER BY win) AS sax
    FROM symed
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q_ts_sax", oracle=_SAX_ORACLE)
def q_ts_sax(spark, d):
    """SAX symbolization: each event type's daily-count series
    collapses to {SAX_W}-day PAA means (exact integer micro — long
    div long), every window maps to a quartile symbol a-d via a
    GLOBAL ntile over the bounded (type x window) relation
    (operators/ranking.distributed_ntile — the q_win_ntile scale
    rule; total order pinned by (paa, type, win)), and the per-type
    symbol string assembles with an ordered listagg. The corpus
    collapses at the FIRST agg; every later stage is calendar-grain.
    SAX strings feed motif mining / series similarity — the shape
    index for time series the way MinHash is for text."""
    from ..operators.ranking import distributed_ntile

    daily = day_counts(spark, d, by=("event_type",))
    paa = daily.groupBy(
        "event_type", F.expr(f"day_idx div {SAX_W}").alias("win")
    ).agg(F.expr("sum(n) * 1000000L div count(*)").alias("paa_micro"))
    symed = distributed_ntile(
        paa, "paa_micro", ["event_type", "win"], SAX_ALPHA, out_col="tile"
    )
    return (
        symed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.min("paa_micro").alias("min_paa_micro"),
            F.max("paa_micro").alias("max_paa_micro"),
            F.expr(
                "concat_ws('', transform(array_sort(collect_list("
                "struct(win, tile))), x -> char(96 + x.tile)))"
            ).alias("sax"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Tukey IQR-fence outlier audit
# --------------------------------------------------------------------------

_IQR_ORACLE = """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, [0.25, 0.75]) AS qs,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    ),
    fences AS (
      SELECT event_type, n,
             CAST(floor((2.5 * qs[1] - 1.5 * qs[2]) * 1000000)
                  AS BIGINT) AS lo_micro,
             CAST(floor((2.5 * qs[2] - 1.5 * qs[1]) * 1000000)
                  AS BIGINT) AS hi_micro
      FROM q
    ),
    flagged AS (
      SELECT e.event_type, f.n, f.lo_micro, f.hi_micro,
             CAST(floor(e.value * 1000000) AS BIGINT) AS v_micro
      FROM events e JOIN fences f ON f.event_type = e.event_type
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           MAX(lo_micro) AS lo_micro,
           MAX(hi_micro) AS hi_micro,
           CAST(SUM(CASE WHEN v_micro < lo_micro
                           OR v_micro > hi_micro
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           MIN(v_micro) AS min_v_micro,
           MAX(v_micro) AS max_v_micro
    FROM flagged
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q_dq_outlier_iqr", oracle=_IQR_ORACLE)
def q_dq_outlier_iqr(spark, d):
    """Tukey IQR-fence outlier audit per event_type: ONE
    percentile(col, array(.25, .75)) agg (the q_feat_quantile_bin
    one-call rule — N separate percentile aggs re-buffer the column),
    fences q1 - 1.5*IQR / q3 + 1.5*IQR folded to 2.5*q1 - 1.5*q3 and
    quantized to integer micro on the IDENTICAL interpolated doubles
    (Spark percentile == DuckDB quantile_cont, proven r4), and the
    outlier count compares integer micros — the robust-fence
    complement of the z-score (q_ts_anomaly) and MAD
    (q_ts_outlier_mad) gates. Two scans (quantile pass + broadcast
    fence join), both combinable."""
    ev = load(spark, d, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25, 0.75))").alias("qs"),
        F.count(F.lit(1)).alias("n"),
    )
    fences = q.select(
        "event_type",
        "n",
        F.floor(
            (2.5 * F.element_at("qs", 1) - 1.5 * F.element_at("qs", 2))
            * 1000000
        ).alias("lo_micro"),
        F.floor(
            (2.5 * F.element_at("qs", 2) - 1.5 * F.element_at("qs", 1))
            * 1000000
        ).alias("hi_micro"),
    )
    flagged = ev.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "n",
        "lo_micro",
        "hi_micro",
        F.floor(F.col("value") * 1000000).alias("v_micro"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.max("n").alias("n_rows"),
            F.max("lo_micro").alias("lo_micro"),
            F.max("hi_micro").alias("hi_micro"),
            F.sum(
                F.when(
                    (F.col("v_micro") < F.col("lo_micro"))
                    | (F.col("v_micro") > F.col("hi_micro")),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.min("v_micro").alias("min_v_micro"),
            F.max("v_micro").alias("max_v_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Peak detection with integer prominence
# --------------------------------------------------------------------------

PEAK_MIN_PROM = 5  # minimum count prominence to report


_PEAKS_ORACLE = f"""
    WITH {TYPE_DAY_COUNTS_CTE},
    ctx AS (
      SELECT event_type, day_idx, n,
             lag(n) OVER w AS np, lead(n) OVER w AS nn
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
    )
    SELECT event_type, day_idx, CAST(n AS BIGINT) AS n,
           CAST(n - greatest(np, nn) AS BIGINT) AS prominence
    FROM ctx
    WHERE np IS NOT NULL AND nn IS NOT NULL
      AND n > np AND n >= nn
      AND n - greatest(np, nn) >= {PEAK_MIN_PROM}
    ORDER BY event_type, day_idx
"""


@query("q_ts_peaks", oracle=_PEAKS_ORACLE)
def q_ts_peaks(spark, d):
    """Local-extrema detection on the per-type daily series: a day is
    a peak when its count strictly exceeds the previous day, is at
    least the next day (the strict/loose asymmetry resolves plateau
    ties deterministically to the plateau's FIRST day), and rises at
    least {prom} above the higher neighbor (integer prominence — the
    alert-shaping knob that suppresses noise peaks). Counts are
    integers end to end; one type-partitioned window over the
    calendar-bounded daily grain."""
    from pyspark.sql import Window as W

    daily = day_counts(spark, d, by=("event_type",))
    w = W.partitionBy("event_type").orderBy("day_idx")
    ctx = daily.select(
        "event_type",
        "day_idx",
        "n",
        F.lag("n").over(w).alias("np"),
        F.lead("n").over(w).alias("nn"),
    )
    return (
        ctx.filter(
            F.col("np").isNotNull()
            & F.col("nn").isNotNull()
            & (F.col("n") > F.col("np"))
            & (F.col("n") >= F.col("nn"))
            & (
                F.col("n") - F.greatest("np", "nn")
                >= F.lit(PEAK_MIN_PROM)
            )
        )
        .select(
            "event_type",
            "day_idx",
            "n",
            (F.col("n") - F.greatest("np", "nn")).alias("prominence"),
        )
        .orderBy("event_type", "day_idx")
    )
