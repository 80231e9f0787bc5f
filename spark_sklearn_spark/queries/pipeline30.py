"""Round-12 batch A: Katz centrality, panel LOF, mutual information.

Three operators a training-data pipeline wants next to the existing
graph/embedding/feature families:

- q_graph_katz: attenuated walk-count centrality over the memoized
  near-dup edge snapshot — the β-damped cousin of PageRank/HITS that
  needs NO normalization pass, so it stays exact-integer end to end
  (walk counts are integers; β = 1/4 folds into power-of-4 weights).
- q_ml_lof: Local Outlier Factor over a fixed probe panel of
  embeddings — the density-based outlier score next to q_emb_outliers'
  centroid-distance z-scores; floor-composed integer ppm ratios keep
  the declared output exact on both engines.
- q_feat_mutual_info: mutual information between order priority and
  a fixed-width price bucket — the model-free feature-relevance
  screen next to q_feat_woe/q_ml_chi2; ln only ever sees INTEGER
  arguments (the q_text_entropy posture) and term sums ride the
  decimal policy.

Reference parity: the public repo (databricks/spark-sklearn 0.3.0)
has no relational/graph engine — these extend the §2B extension
surface, cited against the public sklearn semantics they mirror
(sklearn.neighbors.LocalOutlierFactor, sklearn.metrics
.mutual_info_score) re-expressed as Spark DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.vectors import sq_dist
from ..registry import query
from ..sources.io import load
from ._helpers import DEC, h56, sql_h56
from .behavior import (
    DAY_COUNTS_CTE,
    DAY_IDX_SQL,
    TRANSITIONS_CTES,
    TYPE_DAY_COUNTS_CTE,
    day_counts,
    day_idx,
    transitions,
)
from .bigrams import (
    NEAR_DUP_DEG_CTES,
    degrees,
    near_dup_edges,
    near_dup_sym,
)

# --------------------------------------------------------------------------
# Katz centrality (bounded-hop, integer-exact)
# --------------------------------------------------------------------------

# walk lengths 1..3; beta = 1/4 -> integer weights 16, 4, 1


_KATZ_ORACLE = f"""
        WITH {NEAR_DUP_DEG_CTES},
        w1 AS (SELECT doc_id, dg AS w FROM deg),
        w2 AS MATERIALIZED (
          SELECT s.src AS doc_id, CAST(SUM(w.w) AS BIGINT) AS w
          FROM sym s JOIN w1 w ON w.doc_id = s.dst
          GROUP BY s.src
        ),
        w3 AS (
          SELECT s.src AS doc_id, CAST(SUM(w.w) AS BIGINT) AS w
          FROM sym s JOIN w2 w ON w.doc_id = s.dst
          GROUP BY s.src
        )
        SELECT w1.doc_id,
               w1.w AS walks1,
               w2.w AS walks2,
               w3.w AS walks3,
               CAST(16 * w1.w + 4 * w2.w + w3.w AS BIGINT)
                   AS katz_scaled64
        FROM w1 JOIN w2 USING (doc_id) JOIN w3 USING (doc_id)
        ORDER BY doc_id
"""


# ROUND-safe: the only ROUND is the driver-PROVEN q_dedup_ngram edge
# predicate (pass r4) in NEAR_DUP_EDGES_CTES, shared by the whole
# near-dup graph family.
@query("q_graph_katz", oracle=_KATZ_ORACLE)
def q_graph_katz(spark, d):
    """Katz centrality with attenuation β=1/4 truncated at walk
    length 3, over the memoized near-dup edge snapshot — the damped
    walk-count score next to PageRank (pipeline6) and HITS
    (pipeline29). katz(v) = Σ_l β^l · walks_l(v); scaling by 4³
    makes every term an INTEGER walk count (katz_scaled64 =
    16·w1 + 4·w2 + 1·w3), so no normalization or float message
    passing is needed — the exact-arithmetic shortcut PageRank's
    decimal-quantized messages pay for.

    Shape: degree agg + 2 edge⋈weight joins, all on the natural node
    key — one shuffle per round, snapshot-sized state, no iteration
    lineage growth (each w_l reads only w_{l-1}). At 100 TB the edge
    snapshot is the bounded banded near-dup graph; every join is a
    key-partitioned equi-join that AQE can re-plan. Walk counts fit
    int64 through hop 3 for any graph with max-degree ≤ ~2M."""
    sym = near_dup_sym(spark, d)
    w1 = degrees(near_dup_edges(spark, d), "doc_a", "doc_b").select(
        "doc_id", F.col("dg").alias("w")
    )

    def _next(prev):
        return (
            sym.join(
                prev.select(F.col("doc_id").alias("dst"), "w"), "dst"
            )
            .groupBy("src")
            .agg(F.sum("w").alias("w"))
            .select(F.col("src").alias("doc_id"), "w")
        )

    w2 = _next(w1)
    w3 = _next(w2)
    return (
        w1.select("doc_id", F.col("w").alias("walks1"))
        .join(w2.select("doc_id", F.col("w").alias("walks2")), "doc_id")
        .join(w3.select("doc_id", F.col("w").alias("walks3")), "doc_id")
        .select(
            "doc_id",
            "walks1",
            "walks2",
            "walks3",
            (
                16 * F.col("walks1") + 4 * F.col("walks2") + F.col("walks3")
            ).alias("katz_scaled64"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Local Outlier Factor over a fixed probe panel
# --------------------------------------------------------------------------

LOF_K = 5
LOF_PANEL_MOD = 10  # vec_id % 10 == 0 -> 50-200 panel points
LOF_Q = 1000  # milli quantization: d2 <= 64 * (2e3)^2 ~ 2.6e8 per pair


def _panel_predicate():
    """The fixed probe-panel membership predicate shared by q_ml_lof
    and q_emb_mutual_knn. A module-level seam on purpose:
    tools/scale_probe.py --fixed-panel monkeypatches this to pin the
    panel (vec_id % 50 == 0 AND vec_id < replica offset) while the
    corpus replicates K× — proving panel×corpus linearity directly,
    which the plain replica probe cannot (replica vec_ids are ≡0 mod
    10, so the panel itself grows K× there by construction)."""
    return F.col("vec_id") % LOF_PANEL_MOD == 0


def _lof_oracle() -> str:
    return f"""
        WITH panel AS (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * {LOF_Q})
                               AS BIGINT)) AS q
          FROM embeddings WHERE vec_id % {LOF_PANEL_MOD} = 0
        ),
        pairs AS (
          SELECT a.vec_id AS p, b.vec_id AS o,
                 CAST(list_sum(list_transform(
                     generate_series(1, 64),
                     i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))
                     AS BIGINT) AS d2
          FROM panel a JOIN panel b ON a.vec_id <> b.vec_id
        ),
        knn AS (
          SELECT p, o, d2,
                 ROW_NUMBER() OVER (PARTITION BY p ORDER BY d2, o) AS rk
          FROM pairs
        ),
        kdist AS (
          SELECT p AS vec_id, d2 AS kd2 FROM knn WHERE rk = {LOF_K}
        ),
        reach AS (
          SELECT k.p, k.o,
                 CASE WHEN kd.kd2 > k.d2 THEN kd.kd2 ELSE k.d2 END AS rd
          FROM knn k JOIN kdist kd ON kd.vec_id = k.o
          WHERE k.rk <= {LOF_K}
        ),
        s AS (
          SELECT p AS vec_id, CAST(SUM(rd) AS BIGINT) AS s_reach
          FROM reach GROUP BY p
        ),
        lof AS (
          SELECT k.p AS vec_id,
                 CAST(SUM((sp.s_reach * 1000000) // so.s_reach)
                      // {LOF_K} AS BIGINT) AS lof_ppm
          FROM knn k
          JOIN s sp ON sp.vec_id = k.p
          JOIN s so ON so.vec_id = k.o
          WHERE k.rk <= {LOF_K}
          GROUP BY k.p
        )
        SELECT l.vec_id, kd.kd2, s.s_reach, l.lof_ppm
        FROM lof l JOIN kdist kd USING (vec_id) JOIN s USING (vec_id)
        ORDER BY vec_id
    """


@query("q_ml_lof", oracle=_lof_oracle())
def q_ml_lof(spark, d):
    """Local Outlier Factor (k=5) over a fixed probe panel of
    embeddings — the density-based outlier detector
    (sklearn.neighbors.LocalOutlierFactor semantics) next to
    q_emb_outliers' global centroid z-scores: a point is anomalous
    when its local reachability density is low RELATIVE to its
    neighbors', which catches outliers sitting between clusters that
    a global distance misses.

    Portability: distances are milli-quantized integer L2² (exact on
    both engines); LOF's density ratios become the floor-composed
    integer form lof_ppm = (Σ_o (S_p·1e6 div S_o)) div k where
    S = Σ reach-dist over the kNN — every step integer, zero float
    ops, so the oracle replays bit-for-bit (documented deviation
    from the textbook mean-of-ratios only in the two floors).

    Shape: the panel is FIXED-SIZE by construction (the label-noise
    probe-panel precedent: a full corpus LOF needs every point's
    k-distance, i.e. corpus×corpus — the eval runs on a bounded
    panel instead, so work is constant in corpus size and the scan
    is the only data-sized stage). Broadcast panel self-pairs →
    per-point rank window → two bounded joins for reach/ratio."""
    emb = load(spark, d, "embeddings")
    panel = emb.filter(_panel_predicate()).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {LOF_Q}) as bigint))"
        ).alias("q"),
    )
    a = panel.select(F.col("vec_id").alias("p"), F.col("q").alias("pq"))
    b = panel.select(F.col("vec_id").alias("o"), F.col("q").alias("oq"))
    d2 = sq_dist("pq", "oq")
    pairs = (
        F.broadcast(a)
        .join(b, F.col("p") != F.col("o"))
        .select("p", "o", d2.alias("d2"))
    )
    w = Window.partitionBy("p").orderBy("d2", "o")
    knn = pairs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= LOF_K
    )
    kdist = knn.filter(F.col("rk") == LOF_K).select(
        F.col("p").alias("vec_id"), F.col("d2").alias("kd2")
    )
    reach = knn.join(
        kdist.select(F.col("vec_id").alias("o"), "kd2"), "o"
    ).select(
        "p", "o", F.greatest("kd2", "d2").alias("rd")
    )
    s = reach.groupBy("p").agg(F.sum("rd").alias("s_reach")).select(
        F.col("p").alias("vec_id"), "s_reach"
    )
    lof = (
        knn.join(s.select(F.col("vec_id").alias("p"), F.col("s_reach").alias("sp")), "p")
        .join(s.select(F.col("vec_id").alias("o"), F.col("s_reach").alias("so")), "o")
        .groupBy("p")
        .agg(
            F.expr(f"sum((sp * 1000000L) div so) div {LOF_K}").alias(
                "lof_ppm"
            )
        )
        .select(F.col("p").alias("vec_id"), "lof_ppm")
    )
    return (
        lof.join(kdist, "vec_id")
        .join(s, "vec_id")
        .select("vec_id", "kd2", "s_reach", "lof_ppm")
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Mutual information feature screen
# --------------------------------------------------------------------------

MI_BUCKET_CENTS = 2_000_000  # $20k price buckets


_MI_ORACLE = f"""
    WITH cells AS (
      SELECT o_orderpriority AS x,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 // {MI_BUCKET_CENTS} AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    ),
    cx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY x),
    cy AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY y),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT cells.x, cells.c,
             CAST(cells.c * (ln(CAST(n.n * cells.c AS DOUBLE))
                             - ln(CAST(cx.cx * cy.cy AS DOUBLE)))
                  AS DECIMAL(30,10)) AS t,
             n.n AS n
      FROM cells JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN n
    )
    SELECT x,
           CAST(SUM(c) AS BIGINT) AS n_x,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(floor(CAST(SUM(t) AS DOUBLE) * 1000000.0 / ANY_VALUE(n))
                AS BIGINT) AS mi_part_micro
    FROM terms
    GROUP BY x
    ORDER BY x
"""


@query("q_feat_mutual_info", oracle=_MI_ORACLE)
def q_feat_mutual_info(spark, d):
    """Mutual information between order priority and a fixed-width
    total-price bucket (sklearn.metrics.mutual_info_score semantics),
    reported as each priority's additive contribution
    Σ_y (c_xy/n)·ln(n·c_xy/(c_x·c_y)) in floor-micro nats — the
    model-free feature-relevance screen next to q_feat_woe (which
    needs a binary label) and q_ml_chi2 (which tests independence
    but does not measure it).

    Portability (the q_text_entropy posture): ln only ever sees
    INTEGER arguments (n·c_xy and c_x·c_y, both < 2^53 so the
    int→double conversion is exact), per-cell terms quantize to
    DECIMAL(30,10) before summing, and the final division+floor is
    the identical double expression on both engines. Fixed-width
    buckets (integer cents div) avoid the quantile-ordering ties an
    ntile binning would risk.

    Shape: one scan → (x,y) cell agg (combinable; output bounded by
    |priorities|×|buckets|, data-independent) → margins re-aggregated
    from the cell relation itself (never a second scan) → broadcast
    equi-joins on the bounded grid. The only data-sized stage is the
    scan."""
    o = load(spark, d, "orders").select(
        F.col("o_orderpriority").alias("x"),
        F.expr(
            f"cast(floor(o_totalprice * 100 + 0.5) as bigint)"
            f" div {MI_BUCKET_CENTS}"
        ).alias("y"),
    )
    cells = o.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    cx = cells.groupBy("x").agg(F.sum("c").alias("cx"))
    cy = cells.groupBy("y").agg(F.sum("c").alias("cy"))
    n1 = cells.agg(F.sum("c").alias("n")).withColumn("k", F.lit(1))
    term = F.expr(
        "cast(c * (ln(cast(n * c as double))"
        " - ln(cast(cx * cy as double))) as decimal(30,10))"
    )
    terms = (
        cells.withColumn("k", F.lit(1))
        .join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .join(F.broadcast(n1), "k")
        .select("x", "c", "n", term.alias("t"))
    )
    return (
        terms.groupBy("x")
        .agg(
            F.sum("c").alias("n_x"),
            F.count(F.lit(1)).alias("n_bins"),
            F.floor(
                F.sum("t").cast("double")
                * 1000000.0
                / F.first("n")
            )
            .cast("long")
            .alias("mi_part_micro"),
        )
        .orderBy("x")
    )


# --------------------------------------------------------------------------
# Embedding isotropy (participation ratio of the scatter spectrum)
# --------------------------------------------------------------------------


def _isotropy_oracle() -> str:
    from .pca_power import pca_with_body

    # Unreferenced round CTEs in pca_with_body() are non-MATERIALIZED,
    # so DuckDB prunes them — the oracle evaluates exactly vals ->
    # means -> cent -> cells, the same lineage q_emb_pca_power proves.
    return f"""
        WITH {pca_with_body()}
        SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT)
                   AS n_vecs,
               CAST(SUM(CASE WHEN i = j THEN m ELSE 0 END) AS BIGINT)
                   AS trace_damped,
               CAST(SUM(m * m) AS BIGINT) AS fro2_damped,
               CAST(floor(CAST(SUM(CASE WHEN i = j THEN m ELSE 0 END)
                               AS DOUBLE)
                          * SUM(CASE WHEN i = j THEN m ELSE 0 END)
                          * 1000000.0 / SUM(m * m))
                    AS BIGINT) AS pr_micro
        FROM cells
    """


@query("q_emb_isotropy", oracle=_isotropy_oracle())
def q_emb_isotropy(spark, d):
    """Embedding-space isotropy: the participation ratio
    PR = tr(S)² / ‖S‖_F² = (Σλ)²/(Σλ²) of the damped integer scatter
    matrix — the effective RANK of the embedding spectrum without an
    eigendecomposition (PR = 64 ⇔ perfectly isotropic, PR → 1 ⇔ the
    space has collapsed onto one direction). The monitoring twin of
    q_emb_pca: PCA tells you WHICH direction dominates, PR tells you
    HOW MUCH the spectrum has degenerated — the standard collapse
    alarm for learned embeddings.

    Reuses the memoized pca_cells scatter snapshot (one O(n·d²)
    combinable Gram agg shared with the whole PCA family — this query
    adds only a 4096-row aggregate). Portability: trace and Frobenius
    are exact BIGINTs; pr_micro is the identical double expression
    floor(T·T·1e6 / F2) on both engines over identical integer inputs
    — bit-identical, no accumulation-order exposure (single values,
    not sums of floats). int64 headroom: T² · 1e6 ≈ 3.8e18 at sf0.1
    and F2 ≈ 6e13·(n/2000)²; both overflow around n ≈ 2.8M vectors at
    this variance — past that, raise PP_DAMP (the damping constant
    already in the shared fit)."""
    from .pca_power import power_fit

    _, cells, _ = power_fit(spark, d)
    # n_vecs rides along as a lazy 1-row count agg broadcast onto the
    # 1-row spectrum agg (Lloyd-shape bounded crossJoin) — an eager
    # .count() here would pay a full embeddings scan job on every
    # query CONSTRUCTION, including plan-only inspection (ADVICE r12).
    n = load(spark, d, "embeddings").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    t = F.sum(F.when(F.col("i") == F.col("j"), F.col("m")).otherwise(0))
    f2 = F.sum(F.col("m") * F.col("m"))
    return (
        cells.agg(
            t.cast("long").alias("trace_damped"),
            f2.cast("long").alias("fro2_damped"),
            F.floor(t.cast("double") * t * 1000000.0 / f2)
            .cast("long")
            .alias("pr_micro"),
        )
        .crossJoin(F.broadcast(n))
        .select("n_vecs", "trace_damped", "fro2_damped", "pr_micro")
    )


# --------------------------------------------------------------------------
# Randomization (permutation) test via portable hash reassignment
# --------------------------------------------------------------------------

PERM_REPS = 16


def _perm_test_oracle() -> str:
    h = sql_h56("CAST(o_orderkey AS VARCHAR)")
    return f"""
        WITH base AS (
          SELECT o_orderkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 o_orderstatus,
                 {h} AS h
          FROM orders WHERE o_orderstatus IN ('F', 'O')
        ),
        obs AS (
          SELECT (SUM(CASE WHEN o_orderstatus = 'F' THEN cents END)
                  * 1000000)
                 // COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                 - (SUM(CASE WHEN o_orderstatus = 'O' THEN cents END)
                    * 1000000)
                   // COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)
                     AS diff
          FROM base
        ),
        reps AS (
          SELECT b.o_orderkey, b.cents, r.rep,
                 (b.h >> r.rep) & 1 AS arm
          FROM base b,
               LATERAL (SELECT unnest(generate_series(1, {PERM_REPS}))
                        AS rep) r
        ),
        perm AS (
          SELECT rep,
                 CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT)
                     AS n_a,
                 CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT)
                     AS n_b,
                 CAST((SUM(CASE WHEN arm = 0 THEN cents END) * 1000000)
                      // COUNT(CASE WHEN arm = 0 THEN 1 END)
                      - (SUM(CASE WHEN arm = 1 THEN cents END) * 1000000)
                        // COUNT(CASE WHEN arm = 1 THEN 1 END)
                      AS BIGINT) AS diff_micro
          FROM reps GROUP BY rep
        )
        SELECT p.rep, p.n_a, p.n_b, p.diff_micro,
               CAST(CASE WHEN ABS(p.diff_micro) >= ABS(o.diff)
                    THEN 1 ELSE 0 END AS BIGINT) AS exceeds
        FROM perm p CROSS JOIN obs o
        ORDER BY p.rep
    """


@query("q_ml_permutation_test", oracle=_perm_test_oracle())
def q_ml_permutation_test(spark, d):
    """Randomization test for the F-vs-O order-value gap: 16
    portable pseudo-random reassignments of orders to two arms
    (rep r uses BIT r of one h56(orderkey) — md5 bits are independent,
    so ONE hash per order yields all 16 permutations; both
    engines compute the identical md5-head, so the 'random'
    permutations replay exactly — and the md5 cost is paid once, not
    16× as a per-(key,rep) hash would: measured 2.5 s → the
    scan floor at sf0.1), each rep's
    mean difference in integer micro-cents, and whether it exceeds
    the observed |F-mean − O-mean|. The model-free significance
    primitive next to q_ml_mannwhitney/q_ml_tost (rank/equivalence
    tests) and q_ml_bootstrap_ci (resampling CI): Σ exceeds / reps IS
    the permutation p-value, assembled here per-rep so the driver
    hashes the full null distribution, not just the verdict.

    Shape: ONE scan fills all reps (explode a 16-element
    sequence, conditional sums — a combinable 2×16-cell agg,
    the q_ml_cv_stability one-scan-fills-all-folds pattern); the
    observed statistic is a 1-row broadcast join onto the bounded
    rep relation. Integer end-to-end: exact cents sums, micro-mean
    floor division, integer compare. int64 headroom (ADVICE r12):
    sum(cents)·1e6 is evaluated in Spark int64 but DuckDB HUGEINT —
    the F-arm term crosses 2^63 near sum(cents) ≈ 9.2e12, i.e.
    ~6e8 qualifying orders at this price mix (≈ sf2 in TPC-H
    terms, 200× the bench fixture). Past that, restructure
    mean-first (sum div count, THEN ·1e6) on BOTH engines — kept
    as-is here because the div-at-the-end form is the hash-pinned
    r12 contract."""
    o = (
        load(spark, d, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            "o_orderkey",
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
                "cents"
            ),
            "o_orderstatus",
            h56("cast(o_orderkey as string)").alias("h"),
        )
    )
    obs = o.agg(
        F.expr(
            "sum(case when o_orderstatus = 'F' then cents end) * 1000000L"
            " div count(case when o_orderstatus = 'F' then 1 end)"
            " - sum(case when o_orderstatus = 'O' then cents end)"
            "   * 1000000L"
            "   div count(case when o_orderstatus = 'O' then 1 end)"
        ).alias("obs_diff")
    ).withColumn("k", F.lit(1))
    reps = o.select(
        "h",
        "cents",
        F.explode(F.expr(f"sequence(1, {PERM_REPS})")).alias("rep"),
    ).select(
        "rep",
        "cents",
        F.expr("(h >> rep) & 1").alias("arm"),
    )
    perm = reps.groupBy("rep").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
        F.expr(
            "sum(case when arm = 0 then cents end) * 1000000L"
            " div count(case when arm = 0 then 1 end)"
            " - sum(case when arm = 1 then cents end) * 1000000L"
            "   div count(case when arm = 1 then 1 end)"
        ).alias("diff_micro"),
    )
    return (
        perm.withColumn("k", F.lit(1))
        .join(F.broadcast(obs), "k")
        .select(
            "rep",
            "n_a",
            "n_b",
            "diff_micro",
            F.when(
                F.abs(F.col("diff_micro")) >= F.abs(F.col("obs_diff")), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("exceeds"),
        )
        .orderBy("rep")
    )


# --------------------------------------------------------------------------
# Ljung-Box white-noise test on the daily activity series
# --------------------------------------------------------------------------

LB_LAGS = 7  # test lags 1..7 (one weekly cycle)


_LB_ORACLE = f"""
    WITH {DAY_COUNTS_CTE},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS s
      FROM daily
    ),
    den AS (
      SELECT CAST(SUM((t.nd * d.n - t.s) * (t.nd * d.n - t.s)) AS BIGINT)
                 AS den
      FROM daily d CROSS JOIN tot t
    ),
    lags AS (SELECT unnest(generate_series(1, {LB_LAGS})) AS k),
    num AS (
      SELECT l.k,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM((t.nd * a.n - t.s) * (t.nd * b.n - t.s)) AS BIGINT)
                 AS num
      FROM daily a
      JOIN lags l ON true
      JOIN daily b ON b.day_idx = a.day_idx + l.k
      CROSS JOIN tot t
      GROUP BY l.k
    ),
    rho AS (
      SELECT k, n_pairs,
             CAST((num * 1000000) // den AS BIGINT) AS rho_micro,
             t.nd AS nd
      FROM num CROSS JOIN den CROSS JOIN tot t
    )
    SELECT k, n_pairs, rho_micro,
           CAST(nd * (nd + 2)
                * SUM((rho_micro * rho_micro) // (nd - k))
                  OVER (ORDER BY k) AS BIGINT) AS lb_q_scaled
    FROM rho
    ORDER BY k
"""


@query("q_ts_ljung_box", oracle=_LB_ORACLE)
def q_ts_ljung_box(spark, d):
    """Ljung-Box white-noise test on the daily event-count series:
    per lag k = 1..7, the mean-centered autocorrelation and
    the cumulative Q statistic — the 'is there ANY serial structure
    left' gate that belongs after q_ts_seasonal/q_ts_stl residuals,
    next to q_ts_autocorr's per-lag Pearson view (LB uses the common
    mean and common denominator the test statistic requires).

    Portability: multiplying the centered terms through by n makes
    every autocovariance an exact INTEGER ((n·x_t − S) products — the
    scatter-matrix trick), so ρ_k leaves as exact floor-micro and the
    cumulative Q as the exact integer n(n+2)·Σ ρ²_micro div (n−k)
    (units micro² — divide by 1e12 for the classic Q; compare to
    χ²(k) quantiles at that scale). Signed // and div truncate
    identically (CLAUDE.md pin). int64 headroom: terms are
    (n·x)² ≈ (days·daily_count)² — safe through ~3e9 events/day at
    a 90-day grain; past that, pre-scale x (the gains/ks posture).

    Shape: corpus collapses to the calendar-bounded daily grain first
    (one combinable agg); everything after — lag self-join, moment
    sums, the 7-row cumulative window — runs on that bounded series."""
    daily = day_counts(spark, d)
    tot = daily.agg(
        F.count(F.lit(1)).alias("nd"), F.sum("n").alias("s")
    ).withColumn("j", F.lit(1))
    dj = daily.withColumn("j", F.lit(1)).join(F.broadcast(tot), "j")
    den = (
        dj.agg(
            F.sum(
                (F.col("nd") * F.col("n") - F.col("s"))
                * (F.col("nd") * F.col("n") - F.col("s"))
            ).alias("den")
        )
    ).withColumn("j", F.lit(1))
    lags = spark.range(1, LB_LAGS + 1).select(F.col("id").alias("k"))
    a = dj.select("day_idx", F.col("n").alias("xa"), "nd", "s")
    b = daily.select(F.col("day_idx").alias("dj_idx"), F.col("n").alias("xb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("dj_idx") == F.col("day_idx") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("nd") * F.col("xa") - F.col("s"))
                * (F.col("nd") * F.col("xb") - F.col("s"))
            ).alias("num"),
            F.first("nd").alias("nd"),
        )
    )
    rho = (
        num.withColumn("j", F.lit(1))
        .join(F.broadcast(den), "j")
        .select(
            "k",
            "n_pairs",
            F.expr("num * 1000000L div den").alias("rho_micro"),
            "nd",
        )
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    return rho.select(
        "k",
        "n_pairs",
        "rho_micro",
        (
            F.col("nd")
            * (F.col("nd") + 2)
            * F.sum(
                F.expr("(rho_micro * rho_micro) div (nd - k)")
            ).over(w)
        )
        .cast("long")
        .alias("lb_q_scaled"),
    ).orderBy("k")


# --------------------------------------------------------------------------
# Permutation entropy (ordinal-pattern complexity) of daily series
# --------------------------------------------------------------------------


_PE_ORACLE = f"""
    WITH {TYPE_DAY_COUNTS_CTE},
    triples AS (
      SELECT a.event_type, a.n AS x0, b.n AS x1, c.n AS x2
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day_idx = a.day_idx + 1
      JOIN daily c ON c.event_type = a.event_type
                  AND c.day_idx = a.day_idx + 2
    ),
    pats AS (
      SELECT event_type,
             CASE
               WHEN x0 <= x1 AND x1 <= x2 THEN 0
               WHEN x0 <= x2 AND x2 < x1 THEN 1
               WHEN x1 < x0 AND x0 <= x2 THEN 2
               WHEN x2 < x0 AND x0 <= x1 THEN 3
               WHEN x1 <= x2 AND x2 < x0 THEN 4
               ELSE 5
             END AS pat
      FROM triples
    ),
    counts AS (
      SELECT event_type, pat, CAST(COUNT(*) AS BIGINT) AS c
      FROM pats GROUP BY event_type, pat
    )
    SELECT event_type,
           CAST(SUM(c) AS BIGINT) AS n_triples,
           CAST(COUNT(*) AS BIGINT) AS n_patterns,
           CAST(floor((ln(CAST(SUM(c) AS DOUBLE))
                       - CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE))
                                       AS DECIMAL(30,10))) AS DOUBLE)
                         / SUM(c)) * 1000000.0) AS BIGINT)
               AS pe_micro
    FROM counts
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q_ts_permutation_entropy", oracle=_PE_ORACLE)
def q_ts_permutation_entropy(spark, d):
    """Permutation entropy (Bandt-Pompe, order 3) of each event
    type's daily-count series: consecutive day triples map to one of
    6 ordinal patterns (ties resolved by the fixed <=/< comparison
    table so both engines bin identically), and the Shannon entropy
    of the pattern distribution measures series COMPLEXITY —
    ln(6)·1e6 ≈ 1.79e6 micro-nats for white noise, → 0 for monotone/
    periodic structure. The complexity twin of q_ts_ljung_box: LB
    detects linear autocorrelation, PE catches nonlinear determinism
    invisibly to correlations.

    Portability is the q_text_entropy posture verbatim: ln only sees
    INTEGER counts, the Σ c·ln(c) term sum rides DECIMAL(30,10), the
    closing expression is identical IEEE then floor-micro. Shape:
    calendar-bounded daily agg → two +1/+2 self-joins on the tiny
    grain → 6-cell pattern agg per type."""
    daily = day_counts(spark, d, by=("event_type",))
    a = daily.select("event_type", "day_idx", F.col("n").alias("x0"))
    b = daily.select(
        "event_type", (F.col("day_idx") - 1).alias("day_idx"),
        F.col("n").alias("x1"),
    )
    c = daily.select(
        "event_type", (F.col("day_idx") - 2).alias("day_idx"),
        F.col("n").alias("x2"),
    )
    pats = (
        a.join(b, ["event_type", "day_idx"])
        .join(c, ["event_type", "day_idx"])
        .select(
            "event_type",
            F.expr(
                "CASE WHEN x0 <= x1 AND x1 <= x2 THEN 0"
                " WHEN x0 <= x2 AND x2 < x1 THEN 1"
                " WHEN x1 < x0 AND x0 <= x2 THEN 2"
                " WHEN x2 < x0 AND x0 <= x1 THEN 3"
                " WHEN x1 <= x2 AND x2 < x0 THEN 4"
                " ELSE 5 END"
            ).alias("pat"),
        )
    )
    counts = pats.groupBy("event_type", "pat").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_triples"),
            F.count(F.lit(1)).alias("n_patterns"),
            F.floor(
                (
                    F.log(F.sum("c").cast("double"))
                    - F.sum(
                        (F.col("c") * F.log(F.col("c").cast("double")))
                        .cast(DEC)
                    ).cast("double")
                    / F.sum("c")
                )
                * 1000000.0
            )
            .cast("long")
            .alias("pe_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Mutual-kNN graph degree histogram over the LOF panel
# --------------------------------------------------------------------------


def _mutual_knn_oracle() -> str:
    return f"""
        WITH panel AS (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * {LOF_Q})
                               AS BIGINT)) AS q
          FROM embeddings WHERE vec_id % {LOF_PANEL_MOD} = 0
        ),
        pairs AS (
          SELECT a.vec_id AS p, b.vec_id AS o,
                 CAST(list_sum(list_transform(
                     generate_series(1, 64),
                     i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))
                     AS BIGINT) AS d2
          FROM panel a JOIN panel b ON a.vec_id <> b.vec_id
        ),
        knn AS (
          SELECT p, o
          FROM (SELECT p, o,
                       ROW_NUMBER() OVER (PARTITION BY p
                                          ORDER BY d2, o) AS rk
                FROM pairs)
          WHERE rk <= {LOF_K}
        ),
        mutual AS (
          SELECT a.p, COUNT(*) AS deg
          FROM knn a JOIN knn b ON b.p = a.o AND b.o = a.p
          GROUP BY a.p
        ),
        degs AS (
          SELECT pl.vec_id,
                 COALESCE(m.deg, 0) AS mutual_deg
          FROM panel pl LEFT JOIN mutual m ON m.p = pl.vec_id
        )
        SELECT CAST(mutual_deg AS BIGINT) AS mutual_deg,
               CAST(COUNT(*) AS BIGINT) AS n_points
        FROM degs
        GROUP BY mutual_deg
        ORDER BY mutual_deg
    """


@query("q_emb_mutual_knn", oracle=_mutual_knn_oracle())
def q_emb_mutual_knn(spark, d):
    """Mutual-kNN graph degree histogram over the LOF probe panel:
    an edge (p,o) survives only when each is in the other's kNN —
    the symmetrization that graph-based ANN indexes and density
    clustering (HDBSCAN-style) build on, because asymmetric
    neighbors are exactly the hub/outlier contamination LOF flags.
    Low mutual degree ⇒ hubness/boundary points; deg=k ⇒ stable
    cluster cores. Same fixed panel, quantized distances, and rank
    windows as q_ml_lof (one more self-equi-join on the directed
    kNN relation), so the eval adds no new scale risk: panel work is
    constant in corpus size."""
    emb = load(spark, d, "embeddings")
    panel = emb.filter(_panel_predicate()).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {LOF_Q}) as bigint))"
        ).alias("q"),
    )
    a = panel.select(F.col("vec_id").alias("p"), F.col("q").alias("pq"))
    b = panel.select(F.col("vec_id").alias("o"), F.col("q").alias("oq"))
    d2 = sq_dist("pq", "oq")
    w = Window.partitionBy("p").orderBy("d2", "o")
    knn = (
        F.broadcast(a)
        .join(b, F.col("p") != F.col("o"))
        .select("p", "o", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= LOF_K)
        .select("p", "o")
    )
    rev = knn.select(F.col("o").alias("p"), F.col("p").alias("o"))
    mutual = (
        knn.join(rev, ["p", "o"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    degs = panel.select("vec_id").join(
        mutual.select(F.col("p").alias("vec_id"), "deg"), "vec_id", "left"
    ).select(F.coalesce("deg", F.lit(0)).alias("mutual_deg"))
    return (
        degs.groupBy("mutual_deg")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("mutual_deg")
    )


# --------------------------------------------------------------------------
# Lagged cross-correlation between two event-type daily series
# --------------------------------------------------------------------------

XCF_LAGS = 7  # lags -7..+7: does 'click' lead 'purchase'?
XCF_A = "click"
XCF_B = "purchase"


_XCF_ORACLE = f"""
    WITH dx AS (
      SELECT {DAY_IDX_SQL} AS day_idx, CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE event_type = '{XCF_A}' GROUP BY day_idx
    ),
    dy AS (
      SELECT {DAY_IDX_SQL} AS day_idx, CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type = '{XCF_B}' GROUP BY day_idx
    ),
    mx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s
           FROM dx),
    my AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS BIGINT) AS s
           FROM dy),
    denx AS (
      SELECT CAST(SUM((m.n * d.x - m.s) * (m.n * d.x - m.s)) AS BIGINT)
                 AS den
      FROM dx d CROSS JOIN mx m
    ),
    deny AS (
      SELECT CAST(SUM((m.n * d.y - m.s) * (m.n * d.y - m.s)) AS BIGINT)
                 AS den
      FROM dy d CROSS JOIN my m
    ),
    lags AS (SELECT unnest(generate_series(-{XCF_LAGS}, {XCF_LAGS}))
                 AS k),
    num AS (
      SELECT l.k,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM((a.n * d.x - a.s) * (b.n * e.y - b.s)) AS BIGINT)
                 AS num
      FROM dx d
      JOIN lags l ON true
      JOIN dy e ON e.day_idx = d.day_idx + l.k
      CROSS JOIN mx a CROSS JOIN my b
      GROUP BY l.k
    )
    SELECT n.k, n.n_pairs,
           CAST(floor(n.num * 1000000.0
                      / (sqrt(CAST(x.den AS DOUBLE))
                         * sqrt(CAST(y.den AS DOUBLE))))
                AS BIGINT) AS xcf_micro
    FROM num n CROSS JOIN denx x CROSS JOIN deny y
    ORDER BY n.k
"""


@query("q_ts_cross_correlation", oracle=_XCF_ORACLE)
def q_ts_cross_correlation(spark, d):
    """Lagged cross-correlation between the daily 'click' and
    'purchase' series, lags −7..+7: the lead-lag
    screen (a peak at k>0 means click activity LEADS purchase by k
    days) next to q_ts_granger's regression form — the CCF is what an
    analyst reads first to pick Granger's lag. Full-series means and
    denominators (the statistic's definition); only overlapping day
    pairs enter the numerator, n_pairs reports the overlap.

    Portability: the n-scaled scatter trick (q_ts_ljung_box) keeps
    every centered product an exact INTEGER; the closing
    num·1e6/(√denx·√deny) is the identical IEEE expression on
    identical integer inputs (sqrt is correctly rounded per IEEE 754,
    so both engines produce the same double), then floor. Shape: two
    calendar-bounded daily collapses, a ±7-lag self-join on
    the tiny grain, 15-row output."""
    ev = load(spark, d, "events")

    def daily(t, col):
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy(day_idx().alias("day_idx"))
            .agg(F.count(F.lit(1)).alias(col))
        )

    dx = daily(XCF_A, "x")
    dy = daily(XCF_B, "y")
    mx = dx.agg(
        F.count(F.lit(1)).alias("nx"), F.sum("x").alias("sx")
    ).withColumn("j", F.lit(1))
    my = dy.agg(
        F.count(F.lit(1)).alias("ny"), F.sum("y").alias("sy")
    ).withColumn("j", F.lit(1))
    denx = (
        dx.withColumn("j", F.lit(1))
        .join(F.broadcast(mx), "j")
        .agg(
            F.sum(
                (F.col("nx") * F.col("x") - F.col("sx"))
                * (F.col("nx") * F.col("x") - F.col("sx"))
            ).alias("den_x")
        )
        .withColumn("j", F.lit(1))
    )
    deny = (
        dy.withColumn("j", F.lit(1))
        .join(F.broadcast(my), "j")
        .agg(
            F.sum(
                (F.col("ny") * F.col("y") - F.col("sy"))
                * (F.col("ny") * F.col("y") - F.col("sy"))
            ).alias("den_y")
        )
        .withColumn("j", F.lit(1))
    )
    lags = spark.range(-XCF_LAGS, XCF_LAGS + 1).select(
        F.col("id").alias("k")
    )
    a = dx.withColumn("j", F.lit(1)).join(F.broadcast(mx), "j")
    b = dy.select(F.col("day_idx").alias("dj_idx"), "y")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("dj_idx") == F.col("day_idx") + F.col("k"))
        .withColumn("j", F.lit(1))
        .join(F.broadcast(my), "j")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("nx") * F.col("x") - F.col("sx"))
                * (F.col("ny") * F.col("y") - F.col("sy"))
            ).alias("num"),
        )
        .withColumn("j", F.lit(1))
    )
    return (
        num.join(F.broadcast(denx), "j")
        .join(F.broadcast(deny), "j")
        .select(
            "k",
            "n_pairs",
            F.floor(
                F.col("num")
                * 1000000.0
                / (
                    F.sqrt(F.col("den_x").cast("double"))
                    * F.sqrt(F.col("den_y").cast("double"))
                )
            )
            .cast("long")
            .alias("xcf_micro"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Term burstiness (Fano factor of per-document term counts)
# --------------------------------------------------------------------------

BURST_DF_MIN = 30  # report terms appearing in >= this many docs


_BURST_ORACLE = f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    per_doc AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM words GROUP BY term, doc_id
    ),
    n_docs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents
    ),
    stats AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS q
      FROM per_doc GROUP BY term
    )
    SELECT term, df, s AS total_c,
           CAST((n.nd * st.q - st.s * st.s) * 1000000
                // (n.nd * st.s) AS BIGINT) AS fano_micro
    FROM stats st CROSS JOIN n_docs n
    WHERE df >= {BURST_DF_MIN}
    ORDER BY term
"""


@query("q_text_burstiness", oracle=_BURST_ORACLE)
def q_text_burstiness(spark, d):
    """Term burstiness: the Fano factor (variance-to-mean ratio) of
    each frequent term's per-document count, zeros included — Fano ≈ 1
    means Poisson scatter (function words), Fano ≫ 1 means the term
    CLUMPS into few documents (content/topic words). The classic
    Church-Gale burstiness diagnostic, complementing q_text_zipf
    (frequency ranks) and q_text_tfidf (per-doc weighting) with a
    dispersion view the two cannot express.

    Exact integers end-to-end: with N docs, S = Σc, Q = Σc² (zeros
    contribute nothing to either), population var·N² = N·Q − S², so
    fano_micro = (N·Q − S²)·1e6 div (N·S) — one integer expression,
    no float ops. Shape: explode → (term, doc) agg → term agg, all
    combinable; output is vocabulary-grain filtered to df ≥
    30."""
    docs = load(spark, d, "documents")
    per_doc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("nd")).withColumn(
        "j", F.lit(1)
    )
    stats = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    return (
        stats.filter(F.col("df") >= BURST_DF_MIN)
        .withColumn("j", F.lit(1))
        .join(F.broadcast(nd), "j")
        .select(
            "term",
            "df",
            F.col("s").alias("total_c"),
            F.expr("(nd * q - s * s) * 1000000L div (nd * s)").alias(
                "fano_micro"
            ),
        )
        .orderBy("term")
    )


# --------------------------------------------------------------------------
# Per-state entropy of the behavioral transition chain
# --------------------------------------------------------------------------


_ENTROPY_RATE_ORACLE = f"""
    WITH {TRANSITIONS_CTES}
    SELECT event_type,
           CAST(SUM(c) AS BIGINT) AS n_out,
           CAST(COUNT(*) AS BIGINT) AS n_next_types,
           CAST(floor((ln(CAST(SUM(c) AS DOUBLE))
                       - CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE))
                                       AS DECIMAL(30,10))) AS DOUBLE)
                         / SUM(c)) * 1000000.0) AS BIGINT)
               AS h_micro
    FROM trans
    GROUP BY event_type
    ORDER BY event_type
"""


@query("q_behavior_entropy_rate", oracle=_ENTROPY_RATE_ORACLE)
def q_behavior_entropy_rate(spark, d):
    """Per-state entropy of the event-type transition chain: how
    PREDICTABLE is the next action from each state (h → 0 means one
    dominant successor, h → ln(k) means anything can follow) — the
    per-state decomposition of the chain's entropy rate, reading the
    same transition counts q_behavior_markov's steady-state uses.
    Integer-ln/decimal-sum entropy posture (q_text_entropy). Shape:
    ONE user-partitioned lead window is the only corpus shuffle;
    everything after is |event_types|²-bounded."""
    return (
        transitions(spark, d)
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n_out"),
            F.count(F.lit(1)).alias("n_next_types"),
            F.floor(
                (
                    F.log(F.sum("c").cast("double"))
                    - F.sum(
                        (F.col("c") * F.log(F.col("c").cast("double")))
                        .cast(DEC)
                    ).cast("double")
                    / F.sum("c")
                )
                * 1000000.0
            )
            .cast("long")
            .alias("h_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Gini concentration of user activity
# --------------------------------------------------------------------------


_GINI_ORACLE = """
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    cc AS (
      SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS f
      FROM per_user GROUP BY x
    ),
    cum AS (
      SELECT v, f,
             CAST(COALESCE(SUM(f) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS f_prev
      FROM cc
    ),
    agg AS (
      SELECT CAST(SUM(f) AS BIGINT) AS n,
             CAST(SUM(v * f) AS BIGINT) AS s,
             CAST(SUM(v * (f * f_prev + f * (f + 1) // 2)) AS BIGINT)
                 AS sw
      FROM cum
    )
    SELECT n AS n_users, s AS n_events,
           CAST((2 * sw - (n + 1) * s) * 1000000 // (n * s) AS BIGINT)
               AS gini_micro
    FROM agg
"""


@query("q_behavior_gini", oracle=_GINI_ORACLE)
def q_behavior_gini(spark, d):
    """Gini coefficient of per-user event counts — the concentration
    diagnostic (0 = perfectly even usage, → 1 = all activity from a
    few power users) that complements q_behavior_powerlaw's tail
    exponent and q_dq_skew's count-of-counts with the single summary
    number capacity planners and abuse teams watch. Exact integers
    via the tied-rank closed form on the count-of-counts collapse
    (the q_dq_skew shape, pipeline19.py): Σ i·x_i is rank-tie
    invariant, so with f users sharing count v and F_prev users at
    smaller counts, the tie block contributes v·(f·F_prev +
    f(f+1)/2); G = (2·Σ − (n+1)·Σx)/(n·Σx), every term BIGINT,
    output floor-micro via one integer division. Int64 headroom:
    sw ≤ n·s, so the 2e6·sw numerator stays under 2^63 while
    n·s < 4.6e12 — comfortable at driver scales, documented per
    the q_ts_ljung_box convention; past that headroom, route the
    numerator through DECIMAL(38,0) on BOTH engines (CAST before the
    2·1e6 multiply, integer-divide in decimal, CAST the quotient back
    to BIGINT) — decimal integer division is exact and identical
    across Spark and DuckDB, so the floor-micro output is unchanged.

    Shape: one combinable per-user agg (the only corpus shuffle),
    then a count-of-counts collapse — bounded by the number of
    DISTINCT activity levels, not by users — and the cumulative +
    3-sum agg run on that bounded relation (its single-partition
    exchange is the documented bounded-relation exemption; the
    user-grain relation never crosses a single partition)."""
    ev = load(spark, d, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    cc = per_user.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).alias("f")
    )
    wprev = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cc.select(
        "v",
        "f",
        F.coalesce(F.sum("f").over(wprev), F.lit(0)).alias("f_prev"),
    )
    return cum.selectExpr(
        "v", "f",
        "v * (f * f_prev + f * (f + 1) div 2) AS sw_v",
    ).agg(
        F.sum("f").alias("n_users"),
        F.sum(F.expr("v * f")).alias("n_events"),
        F.expr(
            "(2 * sum(sw_v) - (sum(f) + 1) * sum(v * f)) * 1000000L"
            " div (sum(f) * sum(v * f))"
        ).alias("gini_micro"),
    )


# --------------------------------------------------------------------------
# Heaps'-law vocabulary-growth exponent
# --------------------------------------------------------------------------


_HEAPS_ORACLE = """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    mx AS (
      SELECT CAST(MAX(doc_id) AS BIGINT) + 1 AS md FROM documents
    ),
    doc_tokens AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS toks
      FROM words GROUP BY doc_id
    ),
    first_doc AS (
      SELECT term, CAST(MIN(doc_id) AS BIGINT) AS fd
      FROM words GROUP BY term
    ),
    new_terms AS (
      SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS novel
      FROM first_doc GROUP BY fd
    ),
    bucketed AS (
      SELECT CAST(CAST(d.doc_id AS BIGINT) * 4096 // m.md AS BIGINT)
                 AS b,
             CAST(SUM(d.toks) AS BIGINT) AS toks,
             CAST(SUM(COALESCE(n.novel, 0)) AS BIGINT) AS novel
      FROM doc_tokens d
      LEFT JOIN new_terms n USING (doc_id)
      CROSS JOIN mx m
      GROUP BY 1
    ),
    curve AS (
      SELECT b,
             CAST(SUM(toks) OVER (ORDER BY b) AS BIGINT)
                 AS cum_tokens,
             CAST(SUM(novel) OVER (ORDER BY b) AS BIGINT)
                 AS cum_vocab
      FROM bucketed
    ),
    pts AS (
      SELECT ln(CAST(cum_tokens AS DOUBLE)) AS u,
             ln(CAST(cum_vocab AS DOUBLE)) AS v
      FROM curve
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(u AS DECIMAL(30,10))) AS DOUBLE) AS su,
             CAST(SUM(CAST(v AS DECIMAL(30,10))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(u * v AS DECIMAL(30,10))) AS DOUBLE) AS suv,
             CAST(SUM(CAST(u * u AS DECIMAL(30,10))) AS DOUBLE) AS suu
      FROM pts
    )
    SELECT m AS n_points,
           CAST(floor((m * suv - su * sv) * 1000000.0
                      / (m * suu - su * su)) AS BIGINT) AS beta_micro,
           CAST(floor((sv - (m * suv - su * sv)
                            / (m * suu - su * su) * su)
                      * 1000000.0 / m) AS BIGINT) AS lnk_micro
    FROM m
"""


@query("q_text_heaps_law", oracle=_HEAPS_ORACLE)
def q_text_heaps_law(spark, d):
    """Heaps'-law fit V(n) ≈ K·n^β for the corpus in ingestion order:
    OLS slope β of ln(cum vocabulary) on ln(cum tokens) over the
    doc-ordered growth curve. β ≈ 0.4–0.6 is natural text; β falling
    toward 0 is the vocabulary-saturation signal that tells a crawl
    when new documents stop contributing new language (the fitted
    twin of q_text_novelty's per-source ppm view).

    The growth curve costs NO running-distinct: a term's first
    occurrence is one MIN(doc_id) agg, cum vocab is the cumsum of
    first-occurrence counts — two combinable aggs. The curve is then
    SAMPLED at ≤4096 doc-bucket endpoints (bucket = doc_id·4096 div
    (max_doc_id+1), one more combinable agg): the cumulative window
    runs on that BOUNDED bucket relation, never on the doc grain —
    the exact values of the true curve at each bucket's last doc, so
    the fitted β is the same statistic on a fixed-size sample however
    large the corpus (when max_doc_id+1 ≤ 4096 — dense ids, not just
    doc COUNT — the bucketing is injective and the fit is
    bit-identical to the per-doc curve; parity between the engines
    holds regardless, since both bucket identically;
    test_heaps_bucketing_is_injective_at_fixture_scale pins the
    fixture in the injective regime). The 1-row
    max-doc broadcast is the sanctioned Lloyd-shape crossJoin.
    Portability: ln only sees INTEGER cumulative counts (identical
    doubles), per-point ln products quantize to DECIMAL(30,10)
    before the moment sums (the OLS decimal posture, li_ols_moments
    precedent), and the closing slope/intercept expressions are
    identical IEEE then floor-micro."""
    docs = load(spark, d, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    mx = docs.agg(
        (F.max("doc_id").cast("long") + F.lit(1)).alias("md")
    )
    doc_tokens = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("toks")
    )
    new_terms = (
        words.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("novel"))
    )
    bucketed = (
        doc_tokens.join(new_terms, "doc_id", "left")
        .crossJoin(F.broadcast(mx))
        .groupBy(
            F.expr("cast(doc_id as bigint) * 4096L div md").alias("b")
        )
        .agg(
            F.sum("toks").alias("toks"),
            F.sum(F.coalesce("novel", F.lit(0))).alias("novel"),
        )
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = bucketed.select(
        "b",
        F.sum("toks").over(w).alias("cum_tokens"),
        F.sum("novel").over(w).alias("cum_vocab"),
    )
    pts = curve.select(
        F.log(F.col("cum_tokens").cast("double")).alias("u"),
        F.log(F.col("cum_vocab").cast("double")).alias("v"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("u").cast(DEC)).cast("double").alias("su"),
        F.sum(F.col("v").cast(DEC)).cast("double").alias("sv"),
        F.sum((F.col("u") * F.col("v")).cast(DEC))
        .cast("double")
        .alias("suv"),
        F.sum((F.col("u") * F.col("u")).cast(DEC))
        .cast("double")
        .alias("suu"),
    )
    slope = (F.col("m") * F.col("suv") - F.col("su") * F.col("sv")) / (
        F.col("m") * F.col("suu") - F.col("su") * F.col("su")
    )
    return m.select(
        F.col("m").alias("n_points"),
        F.floor(slope * 1000000.0).cast("long").alias("beta_micro"),
        F.floor(
            (F.col("sv") - slope * F.col("su")) * 1000000.0 / F.col("m")
        )
        .cast("long")
        .alias("lnk_micro"),
    )
