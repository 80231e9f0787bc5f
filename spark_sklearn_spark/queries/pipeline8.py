"""Round-7 late batch: bipartite co-purchase link prediction, PSI
population-drift monitoring, and a DECLARED multinomial Naive Bayes
classifier.

Co-purchase affinity completes the graph-analytics family (degree
distribution, triangles, PageRank): Jaccard of part-basket NEIGHBOR
SETS in the customer-part bipartite graph — the collaborative-
filtering candidate generator, with the popularity cap that keeps the
postings self-join linear in the posting volume, never all-pairs.

PSI drift is the production data-quality monitor a training pipeline
runs between corpus snapshots: population-stability index of the
event-type mix between the trailing window and the history, plus the
per-type mean-value shift. Laplace-smoothed shares make every ln()
well-defined and identical-input-identical-output across engines.

Naive Bayes extends the q_ml_linear_ols precedent — a model FIT whose
training math rides the exact decimal policy so the fitted model and
its predictions are hash-verified against SQL, not rows-only. Log
priors and log likelihoods quantize to DECIMAL(30,10) per term
(identical double inputs -> identical libm ln, q_text_perplexity's
argument); per-document class scores are EXACT decimal sums, so the
argmax is order-free and engine-independent, with a deterministic
lexicographic tie-break.

Reference parity: spark-sklearn's public repo ships model fit/predict
fan-out (python/spark_sklearn/grid_search.py, keyed_models.py); the NB
fit here is the same models-on-DataFrames capability expressed as pure
aggregation, per SURVEY §2A/A5.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.vectors import sq_dist
from ..operators.lsh import band_pairs, min_signature
from ..registry import query
from ..sources.io import load
from ._helpers import DEC
from .fits import (
    GINI_Q9_SQL,
    GINI_ROOT_Q9_SQL,
    KM_DIM,
    KM_FIT_CTES,
    KM_Q,
    LR_BINS_CTES,
    LR_FIT_CTES,
    VECS_Q_SQL,
    gini_q9,
    gini_root_q9,
    km_fit_memo,
    lr_decile_bins,
    lr_fit,
    quantized_vecs,
    split_hist,
    split_hist_sql,
    split_prefix,
    split_prefix_ctes,
)
from .grams import df_capped, df_capped_sql, word_grams, word_grams_sql


# --------------------------------------------------------------------------
# Co-purchase affinity: bipartite common-neighbor link prediction
# --------------------------------------------------------------------------

# Parts bought by more than POP_CAP distinct customers are head items:
# they connect everyone to everyone (no signal for affinity) and their
# postings lists dominate the pair fan-out. Same role as bigrams.py's
# DF_CAP for bigrams. The near-dup DOC graph can't host this query:
# its synthetic components are exact cliques at every threshold, so
# distance-2 open wedges don't exist (probed r7 — 0 rows at every SF).
POP_CAP = 25
COMMON_MIN = 3


def tail_baskets(spark, d):
    """The tail-filtered bipartite purchase graph shared by
    q_graph_copurchase and q_graph_hits (pipeline36): distinct
    (cust, part) incidences with head parts (> POP_CAP distinct
    buyers) dropped — the fan-out cap that keeps every downstream
    projection/message-passing join bounded by POP_CAP × |postings|
    instead of |customers|²."""
    orders = load(spark, d, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, d, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    pop = baskets.groupBy("part").agg(F.count(F.lit(1)).alias("nc"))
    return (
        baskets.join(pop, "part")
        .filter(F.col("nc") <= POP_CAP)
        .select("cust", "part")
    )


# The oracle-side twin of tail_baskets, shared (f-string splice) with
# q_graph_hits' oracle in pipeline36 so the two graph queries can
# never drift apart on the edge definition.
TAIL_BASKETS_SQL = f"""baskets AS (
            SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        pop AS (SELECT part, COUNT(*) AS nc FROM baskets GROUP BY part),
        keep AS (
            SELECT b.cust, b.part
            FROM baskets b JOIN pop p ON p.part = b.part
            WHERE p.nc <= {POP_CAP}
        )"""


@query(
    "q_graph_copurchase",
    oracle=f"""
        WITH {TAIL_BASKETS_SQL},
        sizes AS (SELECT cust, COUNT(*) AS n FROM keep GROUP BY cust),
        pairs AS (
            SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS n_common
            FROM keep a JOIN keep b
              ON a.part = b.part AND a.cust < b.cust
            GROUP BY cust_a, cust_b
        )
        SELECT p.cust_a, p.cust_b, p.n_common,
               sa.n AS n_parts_a, sb.n AS n_parts_b,
               CAST(floor(p.n_common * 1000000.0
                          / (sa.n + sb.n - p.n_common)) AS BIGINT)
                   AS jacc_q6
        FROM pairs p
        JOIN sizes sa ON sa.cust = p.cust_a
        JOIN sizes sb ON sb.cust = p.cust_b
        WHERE p.n_common >= {COMMON_MIN}
        ORDER BY cust_a, cust_b
    """,
)
def q_graph_copurchase(spark, d):
    """Bipartite link prediction by common neighbors: project the
    customer-part purchase graph onto customers and score each
    customer pair by the Jaccard of their (tail) part baskets —
    |P(a) n P(b)| / |P(a) u P(b)| — the collaborative-filtering
    candidate generator ("customers like you"). Head parts (bought
    by > 25 distinct customers) are dropped first: they carry
    no affinity signal and their postings lists are the quadratic
    fan-out — the identical cap discipline as the text DF_CAP, so
    pair volume is bounded by POP_CAP x |postings|, never
    |customers|^2. Plan: one distinct projection, one combinable
    popularity agg, a postings self-equi-join on the part key, and
    size lookups; the score is integer-quantized
    (floor(1e6 * c / union) of exact counts — identical IEEE
    division then floor on both engines), no float collision risk.
    At 100 TB this is the basket-affinity shape retail/feed systems
    actually run, cap included."""
    # r18: ride the memoized tail-baskets parquet snapshot shared with
    # q_graph_hits (pipeline36.copurchase_snapshot — the near_dup_edges
    # pattern, keyed per (appId, sf_dir), rebuilt every session): the
    # lineitem⋈orders + distinct + popularity-cap chain becomes one
    # file read. Interleaved A/B med 4.99 → 2.29 s, rows identical.
    from .pipeline36 import copurchase_snapshot

    keep = copurchase_snapshot(spark, d)
    # r17: per-part fan-out is POP_CAP-bounded (≤ 25 buyers), so all
    # C(nc, 2) customer pairs generate MAP-SIDE from one sorted
    # collect_set per part — the q_graph_adamic_adar shape (CLAUDE.md:
    # one shuffle, no second join) — instead of the postings
    # self-equi-join, which re-computed the whole keep lineage on both
    # branches and pushed the ×C(nc,2) fan-out through join machinery.
    # sort_array ⇒ x < y, so the pair set and counts are identical.
    # r18 (VERDICT item 2 adjudication): the remaining fat was the
    # SECOND evaluation of the keep lineage for the per-cust sizes —
    # derive sizes from the SAME groupBy(part) relation (explode of
    # the unfiltered collect_set is exactly the distinct (cust, part)
    # incidences), so both consumers ride one exchange and the
    # lineitem⋈orders+distinct+cap chain runs once (interleaved quiet
    # A/B med 3.43 vs 3.79; the 4.0–5.3 s driver reads were band on
    # top of this — all pair forms measured equal within noise).
    grouped_all = keep.groupBy("part").agg(
        F.sort_array(F.collect_set("cust")).alias("cs")
    )
    sizes = (
        grouped_all.select(F.explode("cs").alias("cust"))
        .groupBy("cust")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        grouped_all.filter(F.size("cs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(cs, (x, i) ->"
                    " transform(slice(cs, i + 2, size(cs) - i - 1),"
                    " y -> struct(x AS cust_a, y AS cust_b))))"
                )
            ).alias("pr")
        )
        .select("pr.cust_a", "pr.cust_b")
        .groupBy("cust_a", "cust_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= COMMON_MIN)
    )
    sa = sizes.select(F.col("cust").alias("cust_a"), F.col("n").alias("n_parts_a"))
    sb = sizes.select(F.col("cust").alias("cust_b"), F.col("n").alias("n_parts_b"))
    return (
        pairs.join(sa, "cust_a")
        .join(sb, "cust_b")
        .select(
            "cust_a",
            "cust_b",
            "n_common",
            "n_parts_a",
            "n_parts_b",
            F.floor(
                F.col("n_common")
                * 1000000.0
                / (F.col("n_parts_a") + F.col("n_parts_b") - F.col("n_common"))
            )
            .cast("long")
            .alias("jacc_q6"),
        )
        .orderBy("cust_a", "cust_b")
    )


# --------------------------------------------------------------------------
# Population-stability drift between the trailing week and history
# --------------------------------------------------------------------------


@query(
    "q_dq_schema_drift",
    oracle="""
        WITH cut AS (
          SELECT CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP)
                 - INTERVAL 7 DAY AS cutoff
          FROM events
        ),
        k AS (SELECT COUNT(DISTINCT event_type) AS k FROM events),
        flagged AS (
          SELECT e.event_type,
                 CASE WHEN e.ts >= c.cutoff THEN 1 ELSE 0 END AS cur,
                 e.value
          FROM events e, cut c
        ),
        per_type AS (
          SELECT event_type,
                 CAST(SUM(1 - cur) AS BIGINT) AS n_ref,
                 CAST(SUM(cur) AS BIGINT) AS n_cur,
                 CAST(SUM(CASE WHEN cur = 0
                               THEN CAST(value AS DECIMAL(30,10)) END)
                      AS DOUBLE) AS sv_ref,
                 CAST(SUM(CASE WHEN cur = 1
                               THEN CAST(value AS DECIMAL(30,10)) END)
                      AS DOUBLE) AS sv_cur
          FROM flagged GROUP BY event_type
        ),
        tot AS (
          SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM per_type
        )
        SELECT p.event_type, p.n_ref, p.n_cur,
               CAST((p.n_ref + 1) * 1000000 // (t.t_ref + k.k)
                    AS BIGINT) AS share_ref_ppm,
               CAST((p.n_cur + 1) * 1000000 // (t.t_cur + k.k)
                    AS BIGINT) AS share_cur_ppm,
               CAST(floor(((p.n_cur + 1.0) / (t.t_cur + k.k)
                           - (p.n_ref + 1.0) / (t.t_ref + k.k))
                          * ln(((p.n_cur + 1.0) / (t.t_cur + k.k))
                               / ((p.n_ref + 1.0) / (t.t_ref + k.k)))
                          * 1000000) AS BIGINT) AS psi_term_micro,
               CAST(floor(CASE WHEN p.n_ref > 0
                               THEN p.sv_ref / p.n_ref END * 1000000)
                    AS BIGINT) AS avg_ref_micro,
               CAST(floor(CASE WHEN p.n_cur > 0
                               THEN p.sv_cur / p.n_cur END * 1000000)
                    AS BIGINT) AS avg_cur_micro
        FROM per_type p, tot t, k
        ORDER BY p.event_type
    """,
)
def q_dq_schema_drift(spark, d):
    """Population-stability drift monitor: the event-type mix of the
    trailing 7 days vs all history before it — per-type counts,
    Laplace-smoothed shares, the PSI contribution
    (p_cur - p_ref) * ln(p_cur / p_ref), and the mean-value shift.
    This is the between-snapshot check a training pipeline runs
    before accepting a new corpus drop (sum of psi_term > 0.2 =
    investigate). Smoothing (+1 / +k) keeps every share strictly
    positive so ln() is total, and makes the expression the
    IDENTICAL double computation on both engines (single ln per
    row — no float summation anywhere; value means ride the decimal
    policy). Shares are exact integer ppm; the PSI term and means
    leave as floor(x*1e6) integer micro. Plan: one scan, one combinable per-type agg, two
    single-row broadcasts (cutoff, totals) — the q_dq_freshness
    shape; no window, no shuffle beyond the type agg."""
    ev = load(spark, d, "events").select("event_type", "ts", "value")
    cut = ev.agg(
        (F.date_trunc("day", F.max("ts")) - F.expr("INTERVAL 7 DAY")).alias(
            "cutoff"
        )
    )
    k = ev.agg(F.countDistinct("event_type").alias("k"))
    flagged = ev.crossJoin(F.broadcast(cut)).select(
        "event_type",
        F.when(F.col("ts") >= F.col("cutoff"), 1).otherwise(0).alias("cur"),
        "value",
    )
    per_type = flagged.groupBy("event_type").agg(
        F.sum(1 - F.col("cur")).alias("n_ref"),
        F.sum("cur").alias("n_cur"),
        F.sum(
            F.when(F.col("cur") == 0, F.col("value").cast(DEC))
        )
        .cast("double")
        .alias("sv_ref"),
        F.sum(
            F.when(F.col("cur") == 1, F.col("value").cast(DEC))
        )
        .cast("double")
        .alias("sv_cur"),
    )
    tot = per_type.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_ref = (F.col("n_ref") + 1.0) / (F.col("t_ref") + F.col("k"))
    p_cur = (F.col("n_cur") + 1.0) / (F.col("t_cur") + F.col("k"))
    return (
        per_type.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(k))
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.expr(
                "(n_ref + 1) * 1000000L div (t_ref + k)"
            ).alias("share_ref_ppm"),
            F.expr(
                "(n_cur + 1) * 1000000L div (t_cur + k)"
            ).alias("share_cur_ppm"),
            F.floor(
                (p_cur - p_ref) * F.log(p_cur / p_ref) * 1000000
            ).alias("psi_term_micro"),
            F.floor(
                F.when(
                    F.col("n_ref") > 0, F.col("sv_ref") / F.col("n_ref")
                )
                * 1000000
            ).alias("avg_ref_micro"),
            F.floor(
                F.when(
                    F.col("n_cur") > 0, F.col("sv_cur") / F.col("n_cur")
                )
                * 1000000
            ).alias("avg_cur_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Declared multinomial Naive Bayes (fit + predict + confusion)
# --------------------------------------------------------------------------


@query(
    "q_ml_naive_bayes",
    oracle="""
        WITH train AS (
          SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0
        ),
        test AS (
          SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0
        ),
        tr_tok AS (
          SELECT lang, unnest(string_split(text, ' ')) AS w FROM train
        ),
        wc AS (
          SELECT lang AS cl, w, COUNT(*) AS c
          FROM tr_tok GROUP BY lang, w
        ),
        cls AS (
          SELECT lang AS cl, COUNT(*) AS nd FROM train GROUP BY lang
        ),
        ct AS (SELECT cl, SUM(c) AS ctoks FROM wc GROUP BY cl),
        vocab AS (SELECT COUNT(DISTINCT w) AS v FROM tr_tok),
        nd_tot AS (SELECT SUM(nd) AS ndt FROM cls),
        te_tok AS (
          SELECT doc_id, lang AS actual,
                 unnest(string_split(text, ' ')) AS w
          FROM test
        ),
        expanded AS (
          SELECT t.doc_id, t.actual, cls.cl, ct.ctoks, v.v, t.w
          FROM te_tok t
          CROSS JOIN cls
          JOIN ct ON ct.cl = cls.cl
          CROSS JOIN vocab v
        ),
        terms AS (
          SELECT e.doc_id, e.actual, e.cl,
                 CAST(ln((COALESCE(wc.c, 0) + 1.0) / (e.ctoks + e.v))
                      AS DECIMAL(30,10)) AS term
          FROM expanded e
          LEFT JOIN wc ON wc.cl = e.cl AND wc.w = e.w
        ),
        scores AS (
          SELECT t.doc_id, t.actual, t.cl,
                 CAST(ln(cls.nd * 1.0 / n.ndt) AS DECIMAL(30,10))
                   + SUM(t.term) AS score
          FROM terms t
          JOIN cls ON cls.cl = t.cl
          CROSS JOIN nd_tot n
          GROUP BY t.doc_id, t.actual, t.cl, cls.nd, n.ndt
        ),
        ranked AS (
          SELECT doc_id, actual, cl,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, cl) AS rk
          FROM scores
        )
        SELECT actual AS actual_lang, cl AS pred_lang,
               COUNT(*) AS n_docs
        FROM ranked WHERE rk = 1
        GROUP BY actual, cl
        ORDER BY actual, cl
    """,
)
def q_ml_naive_bayes(spark, d):
    """DECLARED multinomial Naive Bayes: fit add-1-smoothed per-lang
    token models on the doc_id%5!=0 split, classify the held-out
    fifth, and report the confusion matrix — a trained classifier
    whose fit AND predictions are hash-verified against SQL (the
    q_ml_linear_ols technique lifted from regression to
    classification; reference parity: keyed model fit/predict per
    SURVEY §2A). Every log term quantizes to DECIMAL(30,10)
    (identical double inputs -> identical ln on both engines,
    q_text_perplexity's argument) and per-(doc, class) scores are
    EXACT decimal sums — the argmax compares decimals, so class
    picks cannot drift across engines; ties break lexicographically.
    Plan: model tables (class priors, per-class token counts, token
    totals, vocab size) are combinable map-side aggs over the train
    split; scoring is one equi-join of test token instances against
    the (class, word) count table after a broadcast class fan-out
    (|classes| ~ 5); the per-doc argmax is a doc-partitioned window.
    At 100 TB the model tables are the vocabulary-sized side — the
    BM25/perplexity scale shape."""
    docs = load(spark, d, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)

    tr_tok = train.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    )
    wc = tr_tok.groupBy(
        F.col("lang").alias("cl"), F.col("w")
    ).agg(F.count(F.lit(1)).alias("c"))
    cls = train.groupBy(F.col("lang").alias("cl")).agg(
        F.count(F.lit(1)).alias("nd")
    )
    ct = wc.groupBy("cl").agg(F.sum("c").alias("ctoks"))
    vocab = tr_tok.agg(F.countDistinct("w").alias("v"))
    nd_tot = cls.agg(F.sum("nd").alias("ndt"))

    te_tok = test.select(
        "doc_id",
        F.col("lang").alias("actual"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    class_side = cls.join(ct, "cl").crossJoin(vocab)
    expanded = te_tok.crossJoin(
        F.broadcast(class_side.select("cl", "ctoks", "v"))
    )
    # ct derives from wc, so joining wc a second time needs fresh
    # aliases or Catalyst flags the shared-lineage columns ambiguous
    wc2 = wc.select(
        F.col("cl").alias("wcl"),
        F.col("w").alias("ww"),
        F.col("c").alias("wc_c"),
    )
    terms = expanded.join(
        wc2,
        (expanded.cl == wc2.wcl) & (expanded.w == wc2.ww),
        "left",
    ).select(
        "doc_id",
        "actual",
        "cl",
        F.log(
            (F.coalesce(F.col("wc_c"), F.lit(0)) + 1.0)
            / (F.col("ctoks") + F.col("v"))
        )
        .cast(DEC)
        .alias("term"),
    )
    summed = terms.groupBy("doc_id", "actual", "cl").agg(
        F.sum("term").alias("s")
    )
    prior = (
        cls.crossJoin(F.broadcast(nd_tot))
        .select(
            "cl",
            F.log(F.col("nd") * 1.0 / F.col("ndt")).cast(DEC).alias("lp"),
        )
    )
    scores = summed.join(F.broadcast(prior), "cl").select(
        "doc_id", "actual", "cl", (F.col("lp") + F.col("s")).alias("score")
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cl").asc()
    )
    pred = (
        scores.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == 1)
    )
    return (
        pred.groupBy(
            F.col("actual").alias("actual_lang"),
            F.col("cl").alias("pred_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "pred_lang")
    )


# --------------------------------------------------------------------------
# Declared Lloyd's k-means (unrolled iterations, integer arithmetic)
# --------------------------------------------------------------------------


@query(
    "q_ml_kmeans",
    oracle=f"""
        WITH {KM_FIT_CTES}
        SELECT a.cluster,
               COUNT(*) AS n_members,
               CAST(SUM(a.dist2 // {KM_Q}) AS BIGINT) AS inertia_q,
               MIN(a.vec_id) AS min_member,
               ANY_VALUE(c.cq[1]) AS c1_q,
               ANY_VALUE(c.cq[2]) AS c2_q
        FROM assign3 a JOIN cent2 c ON c.cluster = a.cluster
        GROUP BY a.cluster
        ORDER BY a.cluster
    """,
)
def q_ml_kmeans(spark, d):
    """DECLARED Lloyd's k-means (k=4, three assignment rounds with
    two centroid updates, iterations unrolled): the iterative
    clustering everyone runs rows-only, hash-verified end to end.
    The whole loop is integer/exact arithmetic — components quantize
    to floor(x*1e6) (q_sim_ann_grid's trick), squared distances are
    BIGINT folds, centroid updates floor the exact-integer-sum mean
    (sums < 2^53, so the *1.0/n division is the identical IEEE op on
    both engines), and empty clusters keep their previous centroid
    via the same COALESCE on both sides. Seeding is deterministic:
    the 4 smallest vec_ids. Plan shape per round: the k-row
    centroid relation BROADCASTS into a nested-loop scoring pass
    (k x O(d) integer fold per vector — map-side, no shuffle), the
    argmin is a vec-partitioned window, and the update is one
    combinable (cluster, dim) agg — k*d cells. At 100 TB this is
    exactly MLlib's distributed Lloyd step; unrolling three rounds
    trades convergence for a provable plan, and the rows-only IVF
    path (operators/ivf.py) remains the converged variant."""
    c2, a3 = km_fit_memo(spark, d)
    cent_dims = c2.select(
        "cluster",
        F.element_at("cq", 1).alias("c1_q"),
        F.element_at("cq", 2).alias("c2_q"),
    )
    return (
        a3.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.expr(f"dist2 div {KM_Q}")).alias("inertia_q"),
            F.min("vec_id").alias("min_member"),
        )
        .join(F.broadcast(cent_dims), "cluster")
        .select(
            "cluster", "n_members", "inertia_q", "min_member", "c1_q", "c2_q"
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# Declared gradient-descent logistic regression (unrolled full-batch)
# --------------------------------------------------------------------------


@query(
    "q_ml_logreg",
    oracle=f"""
        WITH {LR_FIT_CTES}
        SELECT CAST(floor(w.w0 * 1000000) AS BIGINT) AS w0_micro,
               CAST(floor(w.w1 * 1000000) AS BIGINT) AS w1_micro,
               CAST(floor(w.w2 * 1000000) AS BIGINT) AS w2_micro,
               n.n AS n_rows,
               CAST(SUM(CASE WHEN (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 >= 0)
                                  = (f.y = 1.0)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(floor(CAST(SUM(CAST(
                   -(f.y * ln(1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1
                                                + w.w2 * f.x2))))
                     + (1.0 - f.y)
                       * ln(1.0 - 1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1
                                                     + w.w2 * f.x2)))))
                   AS DECIMAL(30,10))) AS DOUBLE) / n.n * 1000000)
                   AS BIGINT) AS log_loss_micro
        FROM feats f, it3 w, n
        GROUP BY w.w0, w.w1, w.w2, n.n
    """,
)
def q_ml_logreg(spark, d):
    """DECLARED logistic regression by full-batch gradient descent
    (3 unrolled steps, lr=2.0): purchase propensity from scaled
    value and hour-of-day. Completes the hash-verified trained-model
    trio — closed-form (q_ml_linear_ols), counting (q_ml_naive_bayes),
    and now ITERATIVE GRADIENT training. Determinism: weights start
    at exact zeros; each step's per-row gradient terms (sigmoid
    residual x feature — doubles computed from identical inputs, so
    identical on both engines per the q_text_perplexity ln/exp
    argument) quantize to DECIMAL(30,10) and sum EXACTLY, and the
    weight update is the same scalar double expression on both sides
    — so after three steps the weights are bit-identical, and the
    reported accuracy threshold compares the raw margin (z >= 0, no
    sigmoid at the boundary). Plan shape per step: ONE combinable
    3-sum agg over the feature scan with the 1-row weight relation
    broadcast into it — the classic distributed-GD step (gradients
    shrink map-side; no shuffle beyond the final single-group agg);
    three steps = three passes, exactly MLlib's LBFGS data access
    pattern per iteration."""
    feats, n, w3 = lr_fit(spark, d)

    z = F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    p = 1.0 / (1.0 + F.exp(-z))
    return (
        feats.crossJoin(F.broadcast(w3))
        .crossJoin(F.broadcast(n))
        .groupBy("w0", "w1", "w2", "n")
        .agg(
            F.sum(
                F.when((z >= 0) == (F.col("y") == 1.0), 1).otherwise(0)
            ).alias("n_correct"),
            F.floor(
                F.sum(
                    (
                        -(
                            F.col("y") * F.log(p)
                            + (1.0 - F.col("y")) * F.log(1.0 - p)
                        )
                    ).cast(DEC)
                )
                .cast("double")
                / F.col("n")
                * 1000000
            ).alias("log_loss_micro"),
        )
        .select(
            F.floor(F.col("w0") * 1000000).alias("w0_micro"),
            F.floor(F.col("w1") * 1000000).alias("w1_micro"),
            F.floor(F.col("w2") * 1000000).alias("w2_micro"),
            F.col("n").alias("n_rows"),
            "n_correct",
            "log_loss_micro",
        )
    )


# --------------------------------------------------------------------------
# CUSUM changepoint detection over the daily series (recursive CTE)
# --------------------------------------------------------------------------

# One SQL text for BOTH engines (the q_sql_recursive posture): the
# recursion carries the sequential CUSUM state that windows cannot
# express (S_t = max(0, S_{t-1} + drift) resets at zero — not a
# prefix sum). All float steps are identical-input double ops; the
# daily x and the mean/std moments ride the decimal policy first.
_CUSUM_SQL = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS x
      FROM events
      GROUP BY event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)
    ),
    idx AS (
      SELECT event_type, day, x,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS BIGINT) AS i
      FROM daily
    ),
    stats AS (
      SELECT event_type,
             COUNT(*) AS n_days,
             CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)
                 AS mu,
             sqrt(greatest(
                 CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE)
                      / COUNT(*)
                  - (CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE)
                         / COUNT(*))
                    * (CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE)
                           / COUNT(*)),
                 0.0)) AS sd
      FROM idx GROUP BY event_type
    ),
    devs AS (
      SELECT i.event_type, i.i, s.n_days, s.sd,
             CAST(i.x - s.mu - 0.5 * s.sd AS DECIMAL(30,10)) AS dp,
             CAST(s.mu - 0.5 * s.sd - i.x AS DECIMAL(30,10)) AS dn
      FROM idx i JOIN stats s ON s.event_type = i.event_type
    ),
    prefixes AS (
      SELECT event_type, i, n_days, sd,
             SUM(dp) OVER w AS pp,
             SUM(dn) OVER w AS pn
      FROM devs
      WINDOW w AS (PARTITION BY event_type ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    walk AS (
      SELECT event_type, i, n_days, sd,
             pp - least(CAST(0 AS DECIMAL(30,10)), MIN(pp) OVER w)
                 AS s_pos,
             pn - least(CAST(0 AS DECIMAL(30,10)), MIN(pn) OVER w)
                 AS s_neg
      FROM prefixes
      WINDOW w AS (PARTITION BY event_type ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           n_days,
           CAST(floor(CAST(MAX(s_pos) AS DOUBLE) * 1000000) AS BIGINT)
               AS max_cusum_pos_micro,
           CAST(floor(CAST(MAX(s_neg) AS DOUBLE) * 1000000) AS BIGINT)
               AS max_cusum_neg_micro,
           CAST(SUM(CASE WHEN floor(CAST(s_pos AS DOUBLE) * 1000000)
                              > floor(3.0 * sd * 1000000)
                           OR floor(CAST(s_neg AS DOUBLE) * 1000000)
                              > floor(3.0 * sd * 1000000)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
           MIN(CASE WHEN floor(CAST(s_pos AS DOUBLE) * 1000000)
                         > floor(3.0 * sd * 1000000)
                      OR floor(CAST(s_neg AS DOUBLE) * 1000000)
                         > floor(3.0 * sd * 1000000)
                    THEN i END) AS first_alarm_i
    FROM walk
    GROUP BY event_type, n_days, sd
    ORDER BY event_type
"""


@query("q_ts_cusum", oracle=_CUSUM_SQL)
def q_ts_cusum(spark, d):
    """Two-sided CUSUM changepoint detection on each event stream's
    daily value series — the sequential mean-shift monitor (Page's
    test) that catches slow drifts the per-point z-score
    (q_ts_anomaly) and MAD gates miss. The state recurrence
    S_t = max(0, S_{t-1} + d_t) looks sequential, but has the exact
    closed form S_t = P_t - min(0, min_{j<=t} P_j) over prefix sums
    P (reflection identity) — so the whole monitor is TWO stacked
    windows (running sum, running min) instead of a 30-step
    recursion. Measured: the WITH RECURSIVE formulation cost 18 s at
    sf0.1 (UnionLoop re-evaluates the anchor's lineage per step) and
    8 s even with the series materialized (per-iteration scheduling);
    this window form is sub-second and partition-parallel by
    event_type — the declarative-first scale stance, applied.
    Determinism: daily x and the mu/sd moments ride the decimal
    policy, and the per-day deviations QUANTIZE to DECIMAL(30,10)
    before the window sums — the cumulative sums are EXACT decimals,
    immune to Spark-vs-DuckDB window accumulation order (DuckDB's
    segment-tree float sums are the documented trap); maxima and
    alarm thresholds are integer-micro (floor(x*1e6) on identical
    doubles — no engine-specific ROUND anywhere). One SQL text
    runs on both engines."""
    from ..sources.io import register_views

    register_views(spark, d, ["events"])
    return spark.sql(_CUSUM_SQL)


# --------------------------------------------------------------------------
# Product quantization + asymmetric-distance retrieval (declared)
# --------------------------------------------------------------------------

PQ_M = 8  # subspaces (64 dims / 8)
PQ_SUB = 8  # dims per subspace
PQ_CODES = 16  # codewords per subspace (sampled codebook)
PQ_TOPK = 5


@query(
    "q_emb_pq_adc",
    oracle=f"""
        WITH {VECS_Q_SQL},
        subs AS (
          SELECT v.vec_id, s.s,
                 list_transform(generate_series(1, {PQ_SUB}),
                     i -> v.q[s.s * {PQ_SUB} + i]) AS sq
          FROM vecs v,
               LATERAL (SELECT unnest(generate_series(0, {PQ_M - 1}))
                        AS s) s
        ),
        cb AS (
          SELECT s.s, c.code, s.sq AS cw
          FROM (SELECT vec_id,
                       ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
                FROM vecs ORDER BY vec_id LIMIT {PQ_CODES}) c
          JOIN subs s ON s.vec_id = c.vec_id
        ),
        enc AS (
          SELECT vec_id, s, code, d2
          FROM (
            SELECT sub.vec_id, sub.s, cb.code,
                   list_sum(list_transform(generate_series(1, {PQ_SUB}),
                       i -> (sub.sq[i] - cb.cw[i])
                            * (sub.sq[i] - cb.cw[i]))) AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY sub.vec_id, sub.s
                       ORDER BY list_sum(list_transform(
                           generate_series(1, {PQ_SUB}),
                           i -> (sub.sq[i] - cb.cw[i])
                                * (sub.sq[i] - cb.cw[i]))), cb.code)
                       AS rk
            FROM subs sub JOIN cb ON cb.s = sub.s
          ) WHERE rk = 1
        ),
        probes AS (
          SELECT vec_id AS probe_id, s, sq FROM subs
          WHERE vec_id % 100 = 0
        ),
        lut AS (
          SELECT p.probe_id, p.s, cb.code,
                 list_sum(list_transform(generate_series(1, {PQ_SUB}),
                     i -> (p.sq[i] - cb.cw[i])
                          * (p.sq[i] - cb.cw[i]))) AS d2
          FROM probes p JOIN cb ON cb.s = p.s
        ),
        adc AS (
          SELECT l.probe_id, e.vec_id AS neighbor_id,
                 SUM(l.d2) AS adist2
          FROM enc e
          JOIN lut l ON l.s = e.s AND l.code = e.code
          WHERE e.vec_id <> l.probe_id
          GROUP BY l.probe_id, e.vec_id
          HAVING COUNT(*) = {PQ_M}
        ),
        ranked AS (
          SELECT probe_id, neighbor_id,
                 CAST(adist2 AS BIGINT) AS adist2,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                                    ORDER BY adist2, neighbor_id) AS rnk
          FROM adc
        )
        SELECT probe_id, rnk, neighbor_id, adist2
        FROM ranked WHERE rnk <= {PQ_TOPK}
        ORDER BY probe_id, rnk
    """,
)
def q_emb_pq_adc(spark, d):
    """Product quantization with asymmetric-distance retrieval — the
    third vector-compression tier after scalar quantization
    (q_emb_quantize) and binary signatures (q_emb_hamming_knn):
    vectors split into 8 8-dim subspaces, each encoded to its
    nearest of 16 sampled codewords (the 16 smallest vec_ids — a
    deterministic stand-in for per-subspace k-means, so the WHOLE PQ
    pipeline is declared), compressing 64 floats to 8 nibbles.
    Retrieval is the real ADC algorithm: each probe precomputes an
    8x16 lookup table of exact subspace distances, and a DB
    vector's approximate distance is the SUM of 8 table lookups —
    the scan touches codes, never raw vectors. All distances are
    integer folds on floor(x*1e6)-quantized components: exact on
    both engines. Plan: the codebook (8x16 rows) broadcasts;
    encoding is a per-(vec, subspace) argmin window after that
    broadcast join; the ADC scan is one equi-join on
    (subspace, code) + a combinable (probe, vec) sum. The LUT is
    probe-count-proportional (probes x 8x16), so it carries NO
    broadcast hint — AQE broadcasts it while it fits and shuffles
    otherwise. The ADC product (probes x vectors) is inherent to an
    unpruned ADC scan; at 100 TB it composes with IVF bucketing
    (operators/ivf.py) to bound both sides per bucket — this query
    IS the in-bucket scoring kernel."""
    vecs = quantized_vecs(load(spark, d, "embeddings"))
    subs = vecs.select(
        "vec_id",
        F.explode(
            F.array(*[F.lit(s) for s in range(PQ_M)])
        ).alias("s"),
        "q",
    ).select(
        "vec_id",
        "s",
        F.expr(
            f"transform(sequence(1, {PQ_SUB}),"
            f" i -> element_at(q, s * {PQ_SUB} + i))"
        ).alias("sq"),
    )
    sample = (
        vecs.orderBy("vec_id")
        .limit(PQ_CODES)
        .select(
            "vec_id",
            # BOUNDED: PQ_CODES-row relation (LIMIT above)
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).alias("code"),
        )
    )
    cb = (
        subs.join(F.broadcast(sample), "vec_id")
        .select("s", "code", F.col("sq").alias("cw"))
    )
    d2 = sq_dist("sq", "cw")
    # Encoding argmin as min_by over a (d2, code) struct (r17, §2.4):
    # lexicographic struct comparison == the old orderBy(d2, code)
    # row_number()=1 window, but as a combinable HASH agg — partial
    # aggregation collapses the 16× codebook fanout map-side and the
    # sort disappears. d2 is an exact integer fold, so ties break on
    # code identically on both engines.
    enc = (
        subs.join(F.broadcast(cb), "s")
        .select("vec_id", "s", "code", d2.alias("d2"))
        .groupBy("vec_id", "s")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
        .select("vec_id", "s", "code")
    )
    probes = subs.filter(_ivf_probe_predicate()).select(
        F.col("vec_id").alias("probe_id"), "s", "sq"
    )
    lut = probes.join(F.broadcast(cb), "s").select(
        "probe_id", "s", "code", d2.alias("d2")
    )
    adc = (
        enc.join(lut, ["s", "code"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum("d2").alias("adist2"), F.count(F.lit(1)).alias("nm")
        )
        .filter(F.col("nm") == PQ_M)
    )
    w_rank = Window.partitionBy("probe_id").orderBy(
        "adist2", "neighbor_id"
    )
    return (
        adc.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select("probe_id", "rnk", "neighbor_id", "adist2")
        .orderBy("probe_id", "rnk")
    )


# --------------------------------------------------------------------------
# MinHash banding recall curve (text-tier index quality, declared)
# --------------------------------------------------------------------------

MH_K = 16  # portable hash functions (md5-head)
MH_R = 2  # rows per band -> 8 bands
MH_TRUE_MIN = 0  # include ALL co-gram pairs: noise floor AND dup mass
MH_DF_CAP = 100  # shingle document-frequency cap (postings discipline)


def _mh_bands_sql(src: str = "documents") -> str:
    """CTE chain grams -> capped -> hashes -> sig -> bands: the
    portable md5-head banded-signature generator, shared by the
    recall curve (full pair emission, over `documents`) and the
    edit-distance verify tier (star pairing, over the exact-dedup
    representative relation passed as `src`)."""
    from ._helpers import sql_h56

    h = sql_h56("CAST(i AS VARCHAR) || ':' || g")
    return f"""grams AS ({word_grams_sql(src, 3)}),
        capped AS ({df_capped_sql("grams", MH_DF_CAP)}),
        hashes AS (
          SELECT c.doc_id, ix.i, {h} AS h
          FROM capped c,
               LATERAL (SELECT unnest(generate_series(0, {MH_K - 1}))
                        AS i) ix
        ),
        sig AS (
          SELECT doc_id, i, MIN(h) AS mh FROM hashes GROUP BY doc_id, i
        ),
        bands AS (
          SELECT doc_id, CAST(floor(i / {MH_R}) AS BIGINT) AS band,
                 MIN(CASE WHEN i % {MH_R} = 0 THEN mh END) AS h0,
                 MIN(CASE WHEN i % {MH_R} = 1 THEN mh END) AS h1
          FROM sig GROUP BY doc_id, CAST(floor(i / {MH_R}) AS BIGINT)
        )"""


def _mh_sql() -> str:
    return f"""
        WITH {_mh_bands_sql()},
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
               AND a.doc_id < b.doc_id
        ),
        sizes AS (
          SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id
        ),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM capped a JOIN capped b
            ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY doc_a, doc_b
        ),
        true_pairs AS (
          SELECT i.doc_a, i.doc_b,
                 CAST(floor(i.c * 1000000.0 / (sa.n + sb.n - i.c))
                      AS BIGINT) AS jacc_q6
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE CAST(floor(i.c * 1000000.0 / (sa.n + sb.n - i.c))
                     AS BIGINT) >= {MH_TRUE_MIN}  -- >= 0: keep all
        ),
        marked AS (
          SELECT t.jacc_q6,
                 CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS caught
          FROM true_pairs t
          LEFT JOIN cand c
            ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
        )
        SELECT CAST(floor(jacc_q6 / 100000.0) AS BIGINT) AS j_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(SUM(caught) AS BIGINT) AS n_caught,
               CAST(floor(SUM(caught) * 1000000.0 / COUNT(*))
                    AS BIGINT) AS cand_rate_q6
        FROM marked
        GROUP BY CAST(floor(jacc_q6 / 100000.0) AS BIGINT)
        ORDER BY j_bucket
    """


def _mh_capped_and_bands(spark, d, docs=None, form="explode"):
    """(capped, bands): DF-capped distinct word-3-gram postings and
    the 8-band x r=2 portable md5-head MinHash band signatures
    (doc_id, band, h0, h1) — the Spark mirror of _mh_bands_sql().
    Shared by q_dedup_recall_minhash (full corpus) and
    q_dedup_editdist (exact-dedup representatives via `docs`).

    ``form`` picks the signature build, adjudicated PER CONSUMER in a
    quiet interleaved A/B (r18, VERDICT r17 item 1; 5 reps each,
    canaries 0.17-0.33): "explode" (16x posting explode -> (doc_id,i)
    min agg -> band re-agg) wins for the consumers that evaluate
    bands once or twice over the full corpus (recall_minhash 4.27 vs
    4.78, incremental 3.47 vs 3.75); "array" (hash once per DISTINCT
    gram into a 16-slot array, join back on g riding the DF-cap
    window's partitioning, one 16-column agg + stack) wins for
    editdist (4.18 vs 5.41), whose exact-dedup representative input
    makes the distinct-gram relation proportionally smaller. A
    "fused" variant (16 md5s per posting, one agg, no join) lost
    everywhere (5.9/5.1/7.4) and was dropped. Values are
    bit-identical across forms: same hash expression, same minima,
    same (i -> band, slot) layout."""
    from ._helpers import h56

    if docs is None:
        docs = load(spark, d, "documents")
    capped = df_capped(word_grams(docs, 3), MH_DF_CAP)
    if form == "explode":
        # pre-r17 shape: 16x posting explode -> (doc_id, i) min agg ->
        # band re-agg. 16 md5s per POSTING and two extra exchanges.
        hashes = capped.select(
            "doc_id",
            F.explode(F.array(*[F.lit(i) for i in range(MH_K)])).alias("i"),
            "g",
        ).select(
            "doc_id",
            "i",
            h56("concat(cast(i as string), ':', g)").alias("h"),
        )
        sig_l = hashes.groupBy("doc_id", "i").agg(F.min("h").alias("mh"))
        bands = sig_l.groupBy(
            "doc_id",
            F.floor(F.col("i") / MH_R).cast("long").alias("band"),
        ).agg(
            F.min(F.when(F.col("i") % MH_R == 0, F.col("mh"))).alias("h0"),
            F.min(F.when(F.col("i") % MH_R == 1, F.col("mh"))).alias("h1"),
        )
        return capped, bands
    # form == "array": 16 hashes per DISTINCT gram (260k postings vs
    # 27k grams at sf0.1); the DF-cap window already partitioned the
    # postings on g, so min_signature's join-back adds no shuffle.
    sig = min_signature(
        capped, "doc_id", "g", [h56(f"concat('{i}:', g)") for i in range(MH_K)]
    )
    stack_args = ", ".join(
        f"{b}L, mh{MH_R * b}, mh{MH_R * b + 1}"
        for b in range(MH_K // MH_R)
    )
    bands = sig.select(
        "doc_id",
        F.expr(
            f"stack({MH_K // MH_R}, {stack_args}) AS (band, h0, h1)"
        ),
    )
    return capped, bands


@query("q_dedup_recall_minhash", oracle=_mh_sql())
def q_dedup_recall_minhash(spark, d):
    """MinHash-banding selectivity curve — the text-tier counterpart
    of q_emb_recall_grid: for every co-gram pair (exact word-3-gram
    Jaccard via the DF-capped postings join — never doc x doc), the
    rate at which an 8-band x r=2 signature scheme emits the pair as
    a candidate, bucketed by Jaccard decile. Expected ~1-(1-J^2)^8:
    on this fixture's bimodal mass that reads as a ~0 candidate
    (collision) rate on the J<0.1 noise bucket and ~100% recall on
    the J>=0.9 dup bucket — the separation that justifies production
    banding choices (the r=4/b=32 operator in operators/lsh.py
    targets J >= 0.8 at 3e-9 miss). The measurement itself is
    hash-verified because signatures use the proven md5-head
    portable hash (CLAUDE.md), not engine-specific functions: both
    engines compute bit-identical minima, so candidate sets match
    exactly; integer-quantized Jaccard and integer rate ratios leave
    no float boundary anywhere. Plan: one gram explode feeds
    signatures AND the exact-pairs postings join; bands equi-join on
    (band, h0, h1); the rollup is a 10-row agg."""
    capped, bands = _mh_capped_and_bands(spark, d)
    cand = band_pairs(bands, "doc_id", ["band", "h0", "h1"]).toDF(
        "doc_a", "doc_b"
    )
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = capped.select(F.col("doc_id").alias("doc_a"), "g")
    gb = capped.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        ga.join(gb, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jq = (
        F.floor(
            F.col("c")
            * 1000000.0
            / (F.col("na") + F.col("nb") - F.col("c"))
        )
        .cast("long")
        .alias("jacc_q6")
    )
    true_pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jq)
        .filter(F.col("jacc_q6") >= MH_TRUE_MIN)
    )
    marked = true_pairs.join(
        cand.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).select(
        "jacc_q6",
        F.when(F.col("hit").isNull(), 0).otherwise(1).alias("caught"),
    )
    return (
        marked.groupBy(
            F.floor(F.col("jacc_q6") / 100000.0)
            .cast("long")
            .alias("j_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum("caught").alias("n_caught"),
            F.floor(
                F.sum("caught") * 1000000.0 / F.count(F.lit(1))
            )
            .cast("long")
            .alias("cand_rate_q6"),
        )
        .orderBy("j_bucket")
    )


# --------------------------------------------------------------------------
# Declared IVF retrieval on the declared k-means quantizer
# --------------------------------------------------------------------------

IVF_NPROBE = 2  # coarse cells scanned per probe (of KM_K=4)
IVF_TOPK = 5




def _ivf_probe_predicate():
    """Probe-panel membership for the declared IVF retrieval (and the
    PQ-ADC eval at line ~1120): vec_id % 100. A module seam on
    purpose — tools/scale_probe.py --fixed-panel monkeypatches this
    to pin the panel while the corpus replicates K×: the replica
    fixture offsets vec_ids by multiples of 1e9 (≡ 0 mod 100), so the
    panel otherwise grows K× and the candidate volume K² — the
    measured 49× wall at K=10 is that artifact, not the plan (panel
    fixed ⇒ candidates linear in corpus)."""
    return F.col("vec_id") % 100 == 0

@query(
    "q_sim_ann_ivf_kmeans",
    oracle=f"""
        WITH {KM_FIT_CTES},
        probes AS (
          SELECT vec_id AS probe_id, q FROM vecs WHERE vec_id % 100 = 0
        ),
        pcells AS (
          SELECT probe_id, cluster, q FROM (
            SELECT p.probe_id, c.cluster, p.q,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.probe_id
                       ORDER BY list_sum(list_transform(
                           generate_series(1, {KM_DIM}),
                           i -> (p.q[i] - c.cq[i])
                                * (p.q[i] - c.cq[i]))), c.cluster)
                       AS rk
            FROM probes p CROSS JOIN cent2 c
          ) WHERE rk <= {IVF_NPROBE}
        ),
        cand AS (
          SELECT pc.probe_id, a.vec_id AS neighbor_id,
                 list_sum(list_transform(generate_series(1, {KM_DIM}),
                     i -> (pc.q[i] - a.q[i]) * (pc.q[i] - a.q[i])))
                     AS dist2
          FROM pcells pc JOIN assign3 a ON a.cluster = pc.cluster
          WHERE a.vec_id <> pc.probe_id
        ),
        ranked AS (
          SELECT probe_id, neighbor_id, dist2,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                                    ORDER BY dist2, neighbor_id) AS rnk
          FROM cand
        )
        SELECT probe_id, rnk, neighbor_id,
               CAST(dist2 AS BIGINT) AS dist2
        FROM ranked WHERE rnk <= {IVF_TOPK}
        ORDER BY probe_id, rnk
    """,
)
def q_sim_ann_ivf_kmeans(spark, d):
    """DECLARED IVF retrieval: the real inverted-file ANN pipeline —
    coarse-quantize with k-means, scan only the nprobe nearest
    cells — with the declared Lloyd fit (fits.km_fit_memo) as the
    quantizer, so unlike the rows-only operators/ivf.py path (MLlib KMeans,
    float centroids) EVERY stage is hash-verified: train, cell
    assignment, probe routing, and in-cell exact integer distances.
    nprobe=2 of k=4 cells scans ~half the corpus per probe — the
    recall/cost dial production IVF tunes; with the fixture's
    cluster sizes the plan shape is identical to FAISS-style IVF on
    a cluster: centroids broadcast (k rows), probe routing is a
    k-row nested-loop + rank window, and the candidate scan is one
    equi-join on the CELL KEY (members arrive cell-partitioned,
    never a full scan per probe). Integer-quantized distances
    everywhere — no float boundary. At 100 TB: same plan with
    k ~ sqrt(n) cells and bucketed membership tables
    (sources/io.write_bucketed), and PQ codes (q_emb_pq_adc) replace
    raw vectors inside cells."""
    vecs = quantized_vecs(load(spark, d, "embeddings"))
    cents, members = km_fit_memo(spark, d)
    probes = vecs.filter(_ivf_probe_predicate()).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq")
    )
    pd2 = sq_dist("pq", "cq")
    w_route = Window.partitionBy("probe_id").orderBy("cd2", "cluster")
    pcells = (
        probes.crossJoin(F.broadcast(cents))
        .select("probe_id", "pq", "cluster", pd2.alias("cd2"))
        .withColumn("rk", F.row_number().over(w_route))
        .filter(F.col("rk") <= IVF_NPROBE)
        .select("probe_id", "pq", "cluster")
    )
    nd2 = sq_dist("pq", "q")
    cand = (
        members.select("cluster", "vec_id", "q")
        .join(pcells, "cluster")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            nd2.alias("dist2"),
        )
    )
    w_rank = Window.partitionBy("probe_id").orderBy("dist2", "neighbor_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= IVF_TOPK)
        .select("probe_id", "rnk", "neighbor_id", "dist2")
        .orderBy("probe_id", "rnk")
    )


# --------------------------------------------------------------------------
# Declared decision-stump fit (best Gini split over bucketed features)
# --------------------------------------------------------------------------

# The two integer-bucketed features of the classification trees and
# the per-row label they count (queries/fits.py has the histogram
# split search both trees share).
TREE_FEATS = {"value_floor": "b_value", "hour": "b_hour"}

_TREE_EV_SQL = """
    ev AS (
      SELECT CAST(floor(value) AS BIGINT) AS b_value,
             CAST(hour(ts) AS BIGINT) AS b_hour,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    )"""


def _tree_rows(spark, d):
    """(b_value, b_hour, y): _TREE_EV_SQL's Spark side."""
    return load(spark, d, "events").select(
        F.floor("value").cast("long").alias("b_value"),
        F.hour("ts").cast("long").alias("b_hour"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )


_STUMP_ORACLE = f"""
    WITH {_TREE_EV_SQL},
    hist AS ({split_hist_sql("ev", TREE_FEATS, "y")}),
    {split_prefix_ctes("hist")},
    best AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
                      ORDER BY gini_q9, threshold) AS rk
        FROM (SELECT *, {GINI_Q9_SQL} AS gini_q9 FROM hist_split)
      ) WHERE rk = 1
    ),
    out AS (
      SELECT feature, threshold, nl AS n_left, sl AS pos_left,
             nt - nl AS n_right, st - sl AS pos_right,
             {GINI_ROOT_Q9_SQL} AS gini_root_q9,
             gini_q9 AS gini_split_q9
      FROM best
    )
    SELECT *, gini_root_q9 - gini_split_q9 AS gain_q9
    FROM out ORDER BY feature
"""


@query("q_ml_tree_stump", oracle=_STUMP_ORACLE)
def q_ml_tree_stump(spark, d):
    """DECLARED decision-stump fit: the best Gini split of purchase
    vs non-purchase over two integer-bucketed features (floor(value),
    hour-of-day) — completing the hash-verified classical-model set
    (linear OLS, logistic GD, Naive Bayes, k-means, and now a tree
    split). The histogram split search of queries/fits.py, then a
    per-feature argmin of the quantized weighted Gini with a
    threshold tie-break; the root Gini comes from the winning row's
    node totals."""
    hist = split_hist(_tree_rows(spark, d), TREE_FEATS, "y")
    scored = split_prefix(hist).withColumn("gini_q9", gini_q9())
    w_best = Window.partitionBy("feature").orderBy("gini_q9", "threshold")
    nl, sl, nt, st = (F.col(c) for c in ("nl", "sl", "nt", "st"))
    return (
        scored.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "feature",
            "threshold",
            nl.alias("n_left"),
            sl.alias("pos_left"),
            (nt - nl).alias("n_right"),
            (st - sl).alias("pos_right"),
            gini_root_q9().alias("gini_root_q9"),
            F.col("gini_q9").alias("gini_split_q9"),
        )
        .withColumn(
            "gain_q9", F.col("gini_root_q9") - F.col("gini_split_q9")
        )
        .orderBy("feature")
    )


# --------------------------------------------------------------------------
# Declared depth-2 tree fit (root stump, then best split per leaf)
# --------------------------------------------------------------------------

_TREE2_ORACLE = f"""
    WITH {_TREE_EV_SQL},
    hist AS ({split_hist_sql("ev", TREE_FEATS, "y")}),
    {split_prefix_ctes("hist")},
    root AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
                 ORDER BY gini_q9, feature, threshold) AS rk
        FROM (SELECT *, {GINI_Q9_SQL} AS gini_q9 FROM hist_split)
      ) WHERE rk = 1
    ),
    leafed AS (
      SELECT CASE WHEN r.feature = 'value_floor'
                  THEN CASE WHEN e.b_value < r.threshold
                            THEN 'L' ELSE 'R' END
                  ELSE CASE WHEN e.b_hour < r.threshold
                            THEN 'L' ELSE 'R' END END AS node,
             e.b_value, e.b_hour, e.y
      FROM ev e CROSS JOIN root r
    ),
    hist2 AS ({split_hist_sql("leafed", TREE_FEATS, "y", ("node",))}),
    {split_prefix_ctes("hist2", ("node",))},
    best2 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY gini_q9, feature, threshold) AS rk
        FROM (SELECT *, {GINI_Q9_SQL} AS gini_q9 FROM hist2_split)
      ) WHERE rk = 1
    ),
    nodes AS (
      SELECT 'root' AS node, feature, threshold, nl, sl, nt, st, gini_q9
      FROM root
      UNION ALL
      SELECT node, feature, threshold, nl, sl, nt, st, gini_q9 FROM best2
    ),
    out AS (
      SELECT node, feature, threshold, nt AS n_node, st AS pos_node,
             nl AS n_left, sl AS pos_left,
             {GINI_ROOT_Q9_SQL} AS gini_parent_q9,
             gini_q9 AS gini_split_q9
      FROM nodes
    )
    SELECT *, gini_parent_q9 - gini_split_q9 AS gain_q9
    FROM out ORDER BY node
"""


@query("q_ml_tree_depth2", oracle=_TREE2_ORACLE)
def q_ml_tree_depth2(spark, d):
    """DECLARED depth-2 tree fit: the root stump plus the best Gini
    split of each child leaf — the per-node iteration of hist-mode
    tree growth (queries/fits.py has the split search). Pass 1 picks
    the root by quantized-Gini argmin with a lexicographic (feature,
    threshold) tie-break; pass 2 broadcasts the 1-row root relation
    onto the events scan to route rows to 'L'/'R', then repeats the
    identical search partitioned by leaf."""
    ev = _tree_rows(spark, d)
    scored = split_prefix(split_hist(ev, TREE_FEATS, "y")).withColumn(
        "gini_q9", gini_q9()
    )
    cols = ["feature", "threshold", "nl", "sl", "nt", "st", "gini_q9"]
    # Global argmin over the bucket-bounded scored relation via
    # TakeOrderedAndProject (total order: (feature, threshold) is
    # unique) — not a partition-less window.
    root = scored.orderBy("gini_q9", "feature", "threshold").limit(1).select(
        F.lit("root").alias("node"), *cols
    )

    leafed = ev.join(
        F.broadcast(root.select(
            F.col("feature").alias("r_feature"),
            F.col("threshold").alias("r_threshold"),
        ))
    ).select(
        F.when(
            F.col("r_feature") == "value_floor",
            F.when(F.col("b_value") < F.col("r_threshold"), "L").otherwise("R"),
        )
        .otherwise(
            F.when(F.col("b_hour") < F.col("r_threshold"), "L").otherwise("R")
        )
        .alias("node"),
        "b_value",
        "b_hour",
        "y",
    )
    scored2 = split_prefix(
        split_hist(leafed, TREE_FEATS, "y", ["node"]), ["node"]
    ).withColumn("gini_q9", gini_q9())
    w_best = Window.partitionBy("node").orderBy(
        "gini_q9", "feature", "threshold"
    )
    best2 = (
        scored2.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select("node", *cols)
    )
    return (
        root.unionByName(best2)
        .select(
            "node",
            "feature",
            "threshold",
            F.col("nt").alias("n_node"),
            F.col("st").alias("pos_node"),
            F.col("nl").alias("n_left"),
            F.col("sl").alias("pos_left"),
            gini_root_q9().alias("gini_parent_q9"),
            F.col("gini_q9").alias("gini_split_q9"),
        )
        .withColumn(
            "gain_q9", F.col("gini_parent_q9") - F.col("gini_split_q9")
        )
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# Edit-distance verified near-dup tier (banded Levenshtein)
# --------------------------------------------------------------------------

# Candidates come from the SAME portable 8-band MinHash signatures as
# q_dedup_recall_minhash, but STAR-PAIRED: within each band bucket,
# members pair only with the bucket's min doc_id. A bucket of m docs
# emits m-1 edges instead of C(m,2), so candidate volume is LINEAR in
# band rows no matter how large a boilerplate dup cluster grows —
# probed: full-pair emission hit ratio 12.2 at the 5x verbatim-replica
# fixture (cluster sizes grow 5x, pairs 25x); star pairing keeps the
# transitive connectivity dedup clustering needs (near-identical docs
# share buckets, so the star spans the cluster) while giving up only
# redundant in-cluster edges. Bigram postings blocking was probed
# first and REJECTED: at sf0.1 the common-bigram DF cap strips
# dup-shared bigrams (max co-gram overlap drops to 2). The verify
# stage is character Levenshtein on ASCII-normalized 200-char heads:
# Spark counts codepoints, DuckDB counts BYTES ('héllo'/'hello' = 1
# vs 2, probed r7), so parity requires the [^a-z0-9 ] strip. The
# accept test is pure integer arithmetic (5 * dist <= max_len, edit
# ratio <= 0.2).
EDIT_HEAD = 200


@query(
    "q_dedup_editdist",
    oracle=f"""
        WITH reps AS (
          SELECT MIN(doc_id) AS doc_id
          FROM documents GROUP BY md5(text)
        ),
        repdocs AS (
          SELECT d.doc_id, d.text
          FROM documents d JOIN reps r ON r.doc_id = d.doc_id
        ),
        {_mh_bands_sql("repdocs")},
        starred AS (
          SELECT doc_id,
                 MIN(doc_id) OVER (PARTITION BY band, h0, h1)
                     AS center
          FROM bands
        ),
        cand AS (
          SELECT DISTINCT center AS doc_a, doc_id AS doc_b
          FROM starred WHERE doc_id > center
        ),
        norm AS (
            SELECT doc_id,
                   substr(regexp_replace(lower(text), '[^a-z0-9 ]', '',
                                         'g'), 1, {EDIT_HEAD}) AS h
            FROM repdocs
        ),
        scored AS (
            SELECT i.doc_a, i.doc_b,
                   CAST(levenshtein(na.h, nb.h) AS BIGINT) AS edit_dist,
                   CAST(greatest(length(na.h), length(nb.h)) AS BIGINT)
                       AS len_max
            FROM cand i
            JOIN norm na ON na.doc_id = i.doc_a
            JOIN norm nb ON nb.doc_id = i.doc_b
        )
        SELECT doc_a, doc_b, edit_dist, len_max,
               CAST(floor((1.0 - edit_dist * 1.0 / len_max)
                          * 1000000.0) AS BIGINT) AS edit_sim_q6
        FROM scored
        WHERE len_max > 0 AND edit_dist * 5 <= len_max
        ORDER BY doc_a, doc_b
    """,
)
def q_dedup_editdist(spark, d):
    """DECLARED edit-distance near-dup tier: Levenshtein-verified
    pairs at edit ratio <= 0.2 over MinHash-band candidates. This is
    the strictest character-level verify in the dedup funnel (url <
    exact < fingerprint < bands < ngram Jaccard < edit distance): it
    catches small in-place edits that token-set Jaccard scores
    loosely, and its cost is bounded twice over — candidate count by
    star pairing within band buckets (LINEAR in band rows even for
    pathological boilerplate clusters; the module comment has the
    12.2x-ratio probe that forced this over full pair emission),
    per-pair work by the 200-char head clip (a constant ~40k-cell DP
    in whole-stage codegen, no Python). At 100 TB the verify is
    linear in candidates, and heads clip per doc so the verify join
    shuffles 200 bytes/doc, not full texts."""
    docs = load(spark, d, "documents")
    # Funnel order: exact dedup FIRST. Banding + verify run over one
    # representative per identical-text group (min doc_id), so exact
    # copies never reach the O(HEAD^2) kernel and a pathological
    # copy-storm costs one hash agg, not candidate edges.
    reps = docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id")
    )
    repdocs = docs.join(reps.select("doc_id"), "doc_id").select(
        "doc_id", "text"
    )
    bands = _mh_capped_and_bands(spark, d, docs=repdocs, form="array")[1]
    cand = (
        bands.select(
            "doc_id",
            F.min("doc_id")
            .over(Window.partitionBy("band", "h0", "h1"))
            .alias("center"),
        )
        .filter(F.col("doc_id") > F.col("center"))
        .select(
            F.col("center").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        .distinct()
    )
    norm = repdocs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
            1,
            EDIT_HEAD,
        ).alias("h"),
    )
    na = norm.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("ha"))
    nb = norm.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb"))
    # r18 (ADVICE r17): the r17 explicit F.broadcast of the candidate
    # side is GONE — candidates are linear in band rows (they grow
    # with the corpus), so a forced broadcast bypasses
    # autoBroadcastJoinThreshold and hard-fails past Spark's 8 GB
    # broadcast cap at scale. Unhinted, AQE picks the build side from
    # runtime sizes (locally it still builds the tiny candidate side)
    # and degrades to a shuffle join at scale. Interleaved quiet A/B:
    # unhinted med 3.31 / min 2.73, shuffle_hash-hinted 3.13/3.00,
    # forced broadcast 4.68/4.14 — the hint removal is also the
    # fastest local form. Same inner equi-joins, same rows.
    scored = (
        nb.join(na.join(cand, "doc_a"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ha", "hb").cast("long").alias("edit_dist"),
            F.greatest(F.length("ha"), F.length("hb"))
            .cast("long")
            .alias("len_max"),
        )
    )
    return (
        scored.filter(
            (F.col("len_max") > 0)
            & (F.col("edit_dist") * 5 <= F.col("len_max"))
        )
        .select(
            "doc_a",
            "doc_b",
            "edit_dist",
            "len_max",
            F.floor(
                (1.0 - F.col("edit_dist") * 1.0 / F.col("len_max"))
                * 1000000.0
            )
            .cast("long")
            .alias("edit_sim_q6"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Kaplan-Meier time-to-conversion survival curve (declared)
# --------------------------------------------------------------------------

# Subject: hours from a user's FIRST event to their FIRST purchase,
# with administrative right-censoring at a KM_FOLLOWUP_H-hour
# follow-up horizon (the clinical-trials study-end rule): a user who
# hasn't purchased within the horizon is censored there (or at their
# last observed event if that comes sooner). The product-limit
# estimator S(t) = prod_{t_i <= t} (1 - d_i / n_i) crosses engines
# as a SUM of per-term floor(ln(1 - d/n) * 1e9) integers: d and n
# are exact integer counts, d/n is one double division, ln of
# identical double inputs is identical libm output (the
# q_text_perplexity / NB precedent), and the cumulative sum is pure
# BIGINT — no float enters any ordering or window accumulation.
# Durations use integer-microsecond arithmetic (epoch_us // 3600e6,
# non-negative so DuckDB floor-div == Spark `div` truncation).
KM_FOLLOWUP_H = 48


_KM_ORACLE = f"""
    WITH f AS (
      SELECT user_id,
             epoch_us(MIN(ts)) AS e0,
             epoch_us(MAX(ts)) AS el,
             epoch_us(MIN(CASE WHEN event_type = 'purchase'
                               THEN ts END)) AS ec
      FROM events GROUP BY user_id
    ),
    lif AS (
      SELECT user_id,
             CASE WHEN ec IS NOT NULL
                   AND (ec - e0) // 3600000000 <= {KM_FOLLOWUP_H}
                  THEN 1 ELSE 0 END AS died,
             CASE WHEN ec IS NOT NULL
                   AND (ec - e0) // 3600000000 <= {KM_FOLLOWUP_H}
                  THEN (ec - e0) // 3600000000
                  ELSE least((el - e0) // 3600000000,
                             {KM_FOLLOWUP_H}) END AS duration_h
      FROM f
    ),
    times AS (
      SELECT CAST(duration_h AS BIGINT) AS duration_h,
             CAST(SUM(died) AS BIGINT) AS n_event,
             CAST(SUM(1 - died) AS BIGINT) AS n_censored
      FROM lif GROUP BY duration_h
    ),
    risk AS (
      SELECT duration_h, n_event, n_censored,
             CAST(SUM(n_event + n_censored) OVER (
                 ORDER BY duration_h DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_risk
      FROM times
    ),
    terms AS (
      SELECT duration_h, n_risk, n_event, n_censored,
             CAST(floor(ln(1.0 - n_event * 1.0 / n_risk)
                        * 1000000000.0) AS BIGINT) AS t_q9
      FROM risk WHERE n_event > 0 AND n_event < n_risk
    )
    SELECT duration_h, n_risk, n_event, n_censored,
           CAST(SUM(t_q9) OVER (
               ORDER BY duration_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS km_ln_q9
    FROM terms ORDER BY duration_h
"""


@query("q_ts_survival", oracle=_KM_ORACLE)
def q_ts_survival(spark, d):
    """DECLARED Kaplan-Meier time-to-conversion curve: hours from
    first event to first purchase, right-censored at the 48 h
    follow-up horizon — the funnel-latency analytics that handles
    incomplete observation correctly, where q_funnel_latency's raw
    latency percentiles silently condition on conversion having
    happened. Plan shape: one scan collapses to per-user
    (first, last, first-purchase) epochs via a combinable agg, the
    lifetime relation aggregates to per-hour exact integer counts
    (horizon-bounded, <= 49 rows), and risk sets are ONE suffix-sum
    window over that bounded relation — no per-event window, no
    driver loop. The product-limit estimator ships as a BIGINT
    cumulative sum of floor(ln(1 - d/n)*1e9) terms (module comment
    has the parity argument), so S(t) is engine-exact. At 100 TB the
    per-user agg is the only row-scale shuffle; everything after is
    metadata-sized."""
    ev = load(spark, d, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("e0"),
        F.max(F.unix_micros("ts")).alias("el"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros("ts")
            )
        ).alias("ec"),
    )
    conv_h = F.expr("(ec - e0) div 3600000000")
    obs_h = F.least(
        F.expr("(el - e0) div 3600000000"), F.lit(KM_FOLLOWUP_H)
    )
    died_cond = F.col("ec").isNotNull() & (conv_h <= KM_FOLLOWUP_H)
    lif = f.select(
        F.when(died_cond, 1).otherwise(0).alias("died"),
        F.when(died_cond, conv_h).otherwise(obs_h).alias("duration_h"),
    )
    times = lif.groupBy(
        F.col("duration_h").cast("long").alias("duration_h")
    ).agg(
        F.sum("died").alias("n_event"),
        F.sum(1 - F.col("died")).alias("n_censored"),
    )
    w_risk = Window.orderBy(F.desc("duration_h")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "duration_h",
        "n_event",
        "n_censored",
        F.sum(F.col("n_event") + F.col("n_censored"))
        .over(w_risk)
        .alias("n_risk"),
    )
    terms = risk.filter(
        (F.col("n_event") > 0) & (F.col("n_event") < F.col("n_risk"))
    ).select(
        "duration_h",
        "n_risk",
        "n_event",
        "n_censored",
        F.floor(
            F.log(1.0 - F.col("n_event") * 1.0 / F.col("n_risk"))
            * 1000000000.0
        )
        .cast("long")
        .alias("t_q9"),
    )
    w_km = Window.orderBy("duration_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        "duration_h",
        "n_risk",
        "n_event",
        "n_censored",
        F.sum("t_q9").over(w_km).alias("km_ln_q9"),
    ).orderBy("duration_h")


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and vector ranks
# --------------------------------------------------------------------------

# The fusion every RAG / retrieval pipeline runs between its lexical
# index and its vector index: RRF(doc) = sum over lists of
# 1/(K + rank). Ranks are small exact integers, so both engines
# compute identical 1/(60+r) doubles; the two-term sum is written in
# the same fixed order and floor-quantized to 1e-12 BEFORE the fused
# ordering — no float boundary. The vector list ranks by the SAME
# integer-quantized squared distance as the grid/IVF family
# (q_sim_ann_grid's lesson: when a metric only needs ordering,
# quantize to integers). vec_id and doc_id share the id space by
# fixture construction, which is exactly the aligned-corpus setup
# hybrid search assumes.
RRF_K = 60
RRF_PROBE_ID = 0  # query vector: embedding of id 0
RRF_TOP_IN = 20  # depth of each input list
RRF_TOP_OUT = 10


def _rrf_oracle() -> str:
    from ..registry import ORACLES

    bm25 = ORACLES["q_text_bm25"]
    return f"""
    WITH lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                  AS BIGINT) AS lex_rank
      FROM ({bm25})
    ),
    {VECS_Q_SQL},
    probe AS (
      SELECT q AS pq FROM vecs WHERE vec_id = {RRF_PROBE_ID}
    ),
    dists AS (
      SELECT v.vec_id AS doc_id,
             list_sum(list_transform(generate_series(1, {KM_DIM}),
                 i -> (v.q[i] - p.pq[i]) * (v.q[i] - p.pq[i])))
                 AS dist2
      FROM vecs v CROSS JOIN probe p
      WHERE v.vec_id <> {RRF_PROBE_ID}
    ),
    sem AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY dist2, doc_id)
                  AS BIGINT) AS sem_rank
      FROM (SELECT * FROM dists
            ORDER BY dist2, doc_id LIMIT {RRF_TOP_IN})
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             COALESCE(l.lex_rank, -1) AS lex_rank,
             COALESCE(s.sem_rank, -1) AS sem_rank,
             CAST(floor((
                 COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)
                 + COALESCE(1.0 / ({RRF_K} + s.sem_rank), 0.0)
             ) * 1000000000000.0) AS BIGINT) AS rrf_q12
      FROM lex l FULL JOIN sem s ON s.doc_id = l.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_q12,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_q12 DESC, doc_id)
                AS BIGINT) AS fused_rank
    FROM fused
    ORDER BY rrf_q12 DESC, doc_id LIMIT {RRF_TOP_OUT}
    """


# ROUND-safe: the only ROUND sites are inside the embedded
# driver-PROVEN q_text_bm25 oracle (pass r5), used purely to rank the
# lex list (doc_id tiebreak); every declared output column here is an
# exact integer (ranks + floor-quantized rrf_q12).
@query("q_search_hybrid_rrf", oracle=_rrf_oracle())
def q_search_hybrid_rrf(spark, d):
    """DECLARED hybrid retrieval via reciprocal-rank fusion: the
    BM25 top-{RRF_TOP_IN} (q_text_bm25's fixed probe query, its
    oracle reused verbatim as this oracle's lexical CTE) fused with
    the vector top-{RRF_TOP_IN} for a probe embedding (integer-
    quantized squared distance, the grid-ANN ranking kernel) by
    RRF = sum 1/(60+rank) — the standard lexical+semantic ensemble.
    Plan shape: both input lists are TakeOrderedAndProject over
    their (already linear-scaling) retrieval plans; the fusion
    itself is a {RRF_TOP_IN}-row full outer join + a
    {2 * RRF_TOP_IN}-row sort — metadata-sized. At 100 TB the cost
    IS the two retrievals (each scan-bounded, the vector side
    IVF-prunable per q_sim_ann_ivf_kmeans); fusion adds nothing.
    Module comment has the float-parity argument."""
    from .pipeline5 import q_text_bm25

    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = q_text_bm25(spark, d).select(
        "doc_id",
        F.row_number().over(w_lex).cast("long").alias("lex_rank"),
    )
    emb = load(spark, d, "embeddings")
    vecs = quantized_vecs(emb)
    probe = vecs.filter(F.col("vec_id") == RRF_PROBE_ID).select(
        F.col("q").alias("pq")
    )
    dists = (
        vecs.filter(F.col("vec_id") != RRF_PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            sq_dist("q", "pq").alias("dist2"),
        )
    )
    w_sem = Window.orderBy("dist2", "doc_id")
    sem = (
        dists.orderBy("dist2", "doc_id")
        .limit(RRF_TOP_IN)
        .select(
            "doc_id",
            F.row_number().over(w_sem).cast("long").alias("sem_rank"),
        )
    )
    fused = (
        lex.join(sem, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(-1)).alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(-1)).alias("sem_rank"),
            F.floor(
                (
                    F.coalesce(
                        1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0)
                    )
                    + F.coalesce(
                        1.0 / (RRF_K + F.col("sem_rank")), F.lit(0.0)
                    )
                )
                * 1000000000000.0
            )
            .cast("long")
            .alias("rrf_q12"),
        )
    )
    w_f = Window.orderBy(F.desc("rrf_q12"), F.asc("doc_id"))
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            "rrf_q12",
            F.row_number().over(w_f).cast("long").alias("fused_rank"),
        )
        .orderBy(F.desc("rrf_q12"), F.asc("doc_id"))
        .limit(RRF_TOP_OUT)
    )


# --------------------------------------------------------------------------
# Gradient-boosting round: regression stump on residuals (declared)
# --------------------------------------------------------------------------

# One GBM iteration under squared loss: F0 = global mean, fit the
# best SSE-reducing stump to the residuals, report leaf gammas (the
# additive update). The histogram split search of queries/fits.py
# with (n, sum target) per bucket; the split score is the
# variance-reduction identity gain = RL^2/nl + RR^2/nr (RL/RR =
# left/right residual sums), which needs NO second moment. Targets
# quantize to integer milli-units (floor(value*1e3)) so every sum is
# an exact BIGINT; the score is a double of exact integers written
# identically on both engines and floor-normalized by n (keeps the
# quantized score inside BIGINT: RL ~ n*5e5, RL^2/nl/nt ~ 2.5e11 at
# sf0.1) before the ordering.
GBM_TOP_SPLITS = 5
GBM_FEATS = {"hour": "b_hour", "dom": "b_dom"}

_GBM_ORACLE = f"""
    WITH ev AS (
      SELECT CAST(hour(ts) AS BIGINT) AS b_hour,
             CAST(day(ts) AS BIGINT) AS b_dom,
             CAST(floor(value * 1000.0) AS BIGINT) AS vq
      FROM events
    ),
    hist AS ({split_hist_sql("ev", GBM_FEATS, "vq")}),
    {split_prefix_ctes("hist")},
    scored AS (
      SELECT feature, threshold, nl, nt - nl AS nr,
             CAST(floor((
                 (sl - nl * (st * 1.0 / nt))
                   * (sl - nl * (st * 1.0 / nt)) / nl
                 + ((st - sl) - (nt - nl) * (st * 1.0 / nt))
                   * ((st - sl) - (nt - nl) * (st * 1.0 / nt))
                   / (nt - nl)
             ) / nt) AS BIGINT) AS gain_q,
             CAST(floor((sl - nl * (st * 1.0 / nt)) / nl * 1000.0)
                  AS BIGINT) AS gamma_left_q6,
             CAST(floor(((st - sl) - (nt - nl) * (st * 1.0 / nt))
                        / (nt - nl) * 1000.0)
                  AS BIGINT) AS gamma_right_q6,
             CAST(floor(st * 1.0 / nt * 1000.0) AS BIGINT) AS f0_q6
      FROM hist_split
    )
    SELECT CAST(ROW_NUMBER() OVER (
               ORDER BY gain_q DESC, feature, threshold)
             AS BIGINT) AS rk,
           feature, threshold, nl AS n_left, nr AS n_right,
           gamma_left_q6, gamma_right_q6, f0_q6, gain_q
    FROM scored
    ORDER BY gain_q DESC, feature, threshold
    LIMIT {GBM_TOP_SPLITS}
"""


@query("q_ml_gbm_round", oracle=_GBM_ORACLE)
def q_ml_gbm_round(spark, d):
    """DECLARED gradient-boosting round under squared loss: base
    score F0 = mean(value), best residual-fitting stump over two
    integer-bucketed features (hour, day-of-month) by the
    variance-reduction identity, leaf gammas = mean residual per
    side — the additive-update step GBM iterates, joining the
    hash-verified model set (OLS, logistic GD, NB, k-means, tree
    splits). The candidate relation is <= 55 rows; the
    top-{GBM_TOP_SPLITS} split surface ships instead of just the
    argmax so the oracle checks the whole ordering. k boosting rounds
    = k scans with re-predicted residuals (here round 1, where
    residual sums are a closed form of (n, s) — no per-row prediction
    join needed)."""
    ev = load(spark, d, "events").select(
        F.hour("ts").cast("long").alias("b_hour"),
        F.dayofmonth("ts").cast("long").alias("b_dom"),
        F.floor(F.col("value") * 1000.0).cast("long").alias("vq"),
    )
    pre = split_prefix(split_hist(ev, GBM_FEATS, "vq"))
    nl, sl = F.col("nl"), F.col("sl")
    nt, st = F.col("nt"), F.col("st")
    mu = st * 1.0 / nt
    rl = sl - nl * mu
    rr = (st - sl) - (nt - nl) * mu
    scored = pre.select(
        "feature",
        "threshold",
        nl.alias("n_left"),
        (nt - nl).alias("n_right"),
        F.floor((rl / nl) * 1000.0).cast("long").alias("gamma_left_q6"),
        F.floor((rr / (nt - nl)) * 1000.0)
        .cast("long")
        .alias("gamma_right_q6"),
        F.floor(mu * 1000.0).cast("long").alias("f0_q6"),
        F.floor((rl * rl / nl + rr * rr / (nt - nl)) / nt)
        .cast("long")
        .alias("gain_q"),
    )
    top = scored.orderBy(
        F.desc("gain_q"), F.asc("feature"), F.asc("threshold")
    ).limit(GBM_TOP_SPLITS)
    w_rk = Window.orderBy(F.desc("gain_q"), F.asc("feature"), F.asc("threshold"))
    return (
        top.select(
            F.row_number().over(w_rk).cast("long").alias("rk"),
            "feature",
            "threshold",
            "n_left",
            "n_right",
            "gamma_left_q6",
            "gamma_right_q6",
            "f0_q6",
            "gain_q",
        )
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# Calibration curve (reliability bins) of the declared logreg scores
# --------------------------------------------------------------------------

# The post-training diagnostic that AUC/KS/PR (rank metrics) cannot
# give: does predicted probability MEAN what it says? Scores come
# from the SAME bit-identical 3-step GD weights as q_ml_logreg (the
# fit and its decile bins are shared via queries/fits.py); each row's
# sigmoid is an identical-input double on both engines, bucketed by
# floor(p*10) (integer boundary — a p exactly at a bucket edge is a
# double equality, identical on both sides), and per-bin mean
# prediction rides the decimal policy before the final quantize.


_CALIB_ORACLE = f"""
    WITH {LR_BINS_CTES}
    SELECT bin, nb AS n, n_pos,
           CAST(floor(CAST(sp AS DOUBLE) / nb * 1000000.0) AS BIGINT)
               AS avg_p_q6,
           CAST(floor(n_pos * 1000000.0 / nb) AS BIGINT)
               AS pos_rate_q6,
           CAST(floor(CAST(sp AS DOUBLE) / nb * 1000000.0) AS BIGINT)
             - CAST(floor(n_pos * 1000000.0 / nb) AS BIGINT)
               AS gap_q6
    FROM bins ORDER BY bin
"""


@query("q_ml_calibration", oracle=_CALIB_ORACLE)
def q_ml_calibration(spark, d):
    """DECLARED calibration curve (reliability bins) for the 3-step
    GD logistic model: decile-binned predicted probability vs the
    exact positive rate, plus the signed calibration gap — the
    companion diagnostic to the rank metrics (q_ml_auc/q_ml_ks/
    q_ml_pr_curve), which are blind to probability scaling. Reuses
    q_ml_logreg's bit-identical weights (fits.lr_decile_bins; the
    oracle replays the same unrolled decimal-GD steps), so scores
    are engine-identical doubles; bins are integer floors; per-bin
    mean prediction is an exact decimal sum quantized AFTER the
    divide. Plan: the scoring pass is one map-side broadcast of the
    1-row weight relation into the feature scan and ONE combinable
    10-group agg — at 100 TB the cost is the scan, the calibration
    table is 10 rows."""
    bins = lr_decile_bins(spark, d)
    avg_p = F.floor(
        F.col("sp").cast("double") / F.col("nb") * 1000000.0
    ).cast("long")
    pos_rate = F.floor(
        F.col("n_pos") * 1000000.0 / F.col("nb")
    ).cast("long")
    return bins.select(
        "bin",
        F.col("nb").alias("n"),
        "n_pos",
        avg_p.alias("avg_p_q6"),
        pos_rate.alias("pos_rate_q6"),
        (avg_p - pos_rate).alias("gap_q6"),
    ).orderBy("bin")


# --------------------------------------------------------------------------
# Label-centroid separation matrix (declared)
# --------------------------------------------------------------------------

# Cluster-separation diagnostic over the label space: pairwise cosine
# and exact squared distance between per-label centroids — the cheap
# answer to "are my classes/domains actually separated in embedding
# space", run before trusting a nearest-centroid router or a
# semantic-dedup threshold. Centroids quantize to floor(mean*1e6)
# BIGINT per dimension (exact decimal sums first), so dot products
# and squared norms are EXACT integer arithmetic; only the final
# cosine normalization touches doubles (identical-input sqrt), and it
# floor-quantizes before the output. dist2 never leaves BIGINT.


_CSIM_ORACLE = """
    WITH idx AS (
      SELECT label, embedding AS e,
             unnest(generate_series(1, len(embedding))) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             CAST(floor(
                 CAST(SUM(CAST(CAST(e[dim] AS DOUBLE)
                               AS DECIMAL(30,10))) AS DOUBLE)
                 / COUNT(*) * 1000000.0) AS BIGINT) AS cq
      FROM idx GROUP BY label, dim
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(a.cq * b.cq) AS BIGINT) AS dot,
             CAST(SUM(a.cq * a.cq) AS BIGINT) AS na,
             CAST(SUM(b.cq * b.cq) AS BIGINT) AS nb
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           CAST(floor(dot / (sqrt(na * 1.0) * sqrt(nb * 1.0))
                      * 1000000.0) AS BIGINT) AS cos_q6,
           na + nb - 2 * dot AS dist2_q12
    FROM pairs ORDER BY label_a, label_b
"""


@query("q_emb_centroid_sim", oracle=_CSIM_ORACLE)
def q_emb_centroid_sim(spark, d):
    """DECLARED label-centroid separation matrix: pairwise cosine and
    exact squared distance between the per-label embedding centroids
    (q_emb_centroid's aggregation, quantized) — the class-separation
    diagnostic behind nearest-centroid routing and semantic-dedup
    threshold choices. Plan: one posexplode scan -> (label, dim)
    decimal means (|labels| x dims rows, metadata-sized), then a
    self-equi-join on dim over that bounded relation — the vector
    scan dominates, the matrix is |labels|^2/2 rows. Determinism:
    centroids floor-quantize to 1e-6 BIGINT, so dot/norms/dist2 are
    exact integers; the only double is the cosine normalization,
    written as dot / (sqrt(na*1.0) * sqrt(nb*1.0)) on BOTH engines
    (na*nb would overflow int64) and floored to q6."""
    emb = load(spark, d, "embeddings")
    idx = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    cent = idx.groupBy("label", "dim").agg(
        F.floor(
            F.sum(F.col("v").cast("double").cast(DEC)).cast("double")
            / F.count(F.lit(1))
            * 1000000.0
        )
        .cast("long")
        .alias("cq")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("cq").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("cq").alias("cb")
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.floor(
            F.col("dot")
            / (
                F.sqrt(F.col("na") * 1.0) * F.sqrt(F.col("nb") * 1.0)
            )
            * 1000000.0
        )
        .cast("long")
        .alias("cos_q6"),
        (F.col("na") + F.col("nb") - 2 * F.col("dot")).alias("dist2_q12"),
    ).orderBy("label_a", "label_b")


# --------------------------------------------------------------------------
# Label-noise audit via k-NN neighbor agreement (declared)
# --------------------------------------------------------------------------

# The label-quality gate a training pipeline runs before trusting a
# labeled corpus: for every vector, how many of its k nearest
# neighbors share its label? Low agreement flags probable
# mislabels (confident-learning's cheap cousin). Neighbors rank by
# EXACT Hamming distance over the shared sign-binarized 64-bit
# signatures (pipeline7.hamming_sig — two XOR+popcount codegen ops
# per pair, no float anywhere), so ranks, agreements, and counts are
# all exact integers on both engines. Probes are a FIXED-SIZE
# deterministic panel (the NOISE_PANEL smallest ids): the audit is a
# panel ESTIMATE of per-label noise, and its cost is panel x corpus
# — LINEAR in data (full-probe emission measured ratio 6.6 at the 5x
# fixture before the panel cut it to ~1.2). Neighbors still rank
# over ALL vectors, so the statistic itself is exact per probe; at
# 100 TB the candidate side can additionally route through
# IVF/banded neighbors (q_sim_ann_ivf_kmeans) without changing the
# output contract.
NOISE_K = 5
NOISE_PANEL = 500  # fixed-size probe panel: audit cost linear in corpus


_NOISE_ORACLE = f"""
    WITH {{HAM_SIG}},
    lab AS (
      SELECT s.vec_id, s.lo, s.hi, e.label
      FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id
    ),
    panel AS (
      SELECT * FROM lab ORDER BY vec_id LIMIT {NOISE_PANEL}
    ),
    scored AS (
      SELECT a.vec_id, a.label,
             b.label AS n_label,
             bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
                 AS hamming,
             b.vec_id AS n_id
      FROM panel a JOIN lab b ON b.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT vec_id, label, n_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY hamming, n_id) AS rnk
      FROM scored
    ),
    agree AS (
      SELECT vec_id, label,
             CAST(SUM(CASE WHEN n_label = label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM ranked WHERE rnk <= {NOISE_K}
      GROUP BY vec_id, label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(n_agree) AS BIGINT) AS sum_agree,
           CAST(floor(SUM(n_agree) * 1000000.0
                      / (COUNT(*) * {NOISE_K})) AS BIGINT)
               AS mean_agree_q6,
           CAST(SUM(CASE WHEN 2 * n_agree <= {NOISE_K} THEN 1 ELSE 0
                    END) AS BIGINT) AS n_suspect
    FROM agree GROUP BY label ORDER BY label
"""


from .pipeline7 import HAM_SIG_SQL as _HAM_SIG_SQL


@query(
    "q_ml_label_noise_knn",
    oracle=_NOISE_ORACLE.replace("{HAM_SIG}", _HAM_SIG_SQL),
)
def q_ml_label_noise_knn(spark, d):
    """DECLARED label-noise audit: per-label neighbor-agreement
    statistics — for each vector, the fraction of its {NOISE_K}
    Hamming-nearest neighbors sharing its label, rolled up to
    (n_vecs, mean agreement, suspect count where agreement <= 1/2)
    per label. The cheap structural stand-in for confident-learning
    label audits, and the go/no-go gate before a labeled corpus
    feeds training. Everything is exact integer arithmetic: shared
    sign-signatures (pipeline7.hamming_sig), XOR+popcount distances,
    integer rank tie-break (hamming, id), integer agreement counts;
    the single quantized mean divides exact integers identically on
    both engines. Plan: signature build is one fused fold per row;
    the FIXED-SIZE probe panel broadcasts into the candidate scan
    (broadcast nested-loop join, NOT cartesian product — panel x corpus,
    linear in data); per-probe windows partition by vec_id. Module
    comment has the panel-estimate and 100 TB candidate-set
    arguments."""
    from .pipeline7 import hamming_sig

    # spread: the fused signature fold + broadcast panel scoring ran in
    # ONE scan task on the 1-row-group fixture (r18 spread batch 5:
    # ~1.6 -> ~1.2 s steady; no-op on production layouts)
    emb = load(spark, d, "embeddings", spread=True)
    sig = hamming_sig(emb)
    lab = sig.join(emb.select("vec_id", "label"), "vec_id")
    # Broadcast the FIXED-SIZE panel into the candidate scan (the
    # side that grows with the corpus), mirroring q_emb_hamming_knn.
    panel = lab.orderBy("vec_id").limit(NOISE_PANEL).select(
        F.col("vec_id").alias("p_id"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
        F.col("label").alias("p_label"),
    )
    scored = lab.join(
        F.broadcast(panel), lab.vec_id != panel.p_id
    ).select(
        F.col("p_id").alias("vec_id"),
        F.col("p_label").alias("label"),
        F.col("label").alias("n_label"),
        (
            F.bit_count(F.col("p_lo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("p_hi").bitwiseXOR(F.col("hi")))
        ).alias("hamming"),
        F.col("vec_id").alias("n_id"),
    )
    w = Window.partitionBy("vec_id").orderBy("hamming", "n_id")
    agree = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= NOISE_K)
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.when(F.col("n_label") == F.col("label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_agree")
        )
    )
    return (
        agree.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("n_agree").cast("long").alias("sum_agree"),
            F.floor(
                F.sum("n_agree")
                * 1000000.0
                / (F.count(F.lit(1)) * NOISE_K)
            )
            .cast("long")
            .alias("mean_agree_q6"),
            F.sum(
                F.when(2 * F.col("n_agree") <= NOISE_K, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_suspect"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Incremental ingestion dedup gate (declared)
# --------------------------------------------------------------------------

# The production ingestion path: a NEW batch arrives and each incoming
# doc is admitted, exact-dropped, or near-dropped against the EXISTING
# corpus — the incremental form of the dedup funnel (you never re-dedup
# the whole corpus per batch). Split rule doc_id % 5 (the fixture's
# batch stand-in, same idiom as q_dq_schema_drift). Tier 1: md5 text
# hash equi-join. Tier 2: portable MinHash band buckets — but the
# existing side PRE-AGGREGATES to one (bucket -> min doc_id) row per
# bucket BEFORE the join, so a boilerplate cluster of any size costs
# one row, and the join fan-out is exactly |incoming band rows| —
# linear, the same lesson as q_dedup_editdist's star pairing.


def _inc_oracle() -> str:
    return f"""
    WITH {_mh_bands_sql()},
    inc AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0
    ),
    ex AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 0
    ),
    exact AS (
      SELECT i.doc_id, MIN(e.doc_id) AS match_id
      FROM inc i JOIN ex e ON e.h = i.h GROUP BY i.doc_id
    ),
    ex_buckets AS (
      SELECT band, h0, h1, MIN(doc_id) AS match_id
      FROM bands WHERE doc_id % 5 <> 0 GROUP BY band, h0, h1
    ),
    nearm AS (
      SELECT b.doc_id, MIN(e.match_id) AS match_id
      FROM bands b
      JOIN ex_buckets e
        ON e.band = b.band AND e.h0 = b.h0 AND e.h1 = b.h1
      WHERE b.doc_id % 5 = 0
      GROUP BY b.doc_id
    )
    SELECT i.doc_id,
           CASE WHEN x.doc_id IS NOT NULL THEN 'exact'
                WHEN n.doc_id IS NOT NULL THEN 'near'
                ELSE 'new' END AS verdict,
           COALESCE(x.match_id, n.match_id, -1) AS match_id
    FROM inc i
    LEFT JOIN exact x ON x.doc_id = i.doc_id
    LEFT JOIN nearm n ON n.doc_id = i.doc_id
    ORDER BY i.doc_id
    """


@query("q_dedup_incremental", oracle=_inc_oracle())
def q_dedup_incremental(spark, d):
    """DECLARED incremental ingestion dedup: every incoming-batch doc
    (doc_id % 5 = 0) gets a verdict against the existing corpus —
    'exact' (md5 equi-join match), 'near' (shares a portable MinHash
    band bucket with an existing doc), or 'new' — plus the minimum
    matching existing id. This is the per-batch form of the dedup
    funnel: production never re-pairs the whole corpus on ingest, it
    probes the incoming batch against materialized corpus indexes
    (here the hash set and the band buckets; both sides are built
    in-query from the same scan for the declared contract). Scale:
    the existing band side pre-aggregates to one min-id row PER
    BUCKET before the join, so arbitrarily large dup clusters cost
    one row and the probe fan-out is |incoming band rows| — linear;
    both verdict joins are key equi-joins. All comparisons are hash
    equality and integer mins — no floats anywhere."""
    docs = load(spark, d, "documents")
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    inc = hashed.filter(F.col("doc_id") % 5 == 0)
    ex = hashed.filter(F.col("doc_id") % 5 != 0)
    exact = (
        inc.join(
            ex.select(F.col("h"), F.col("doc_id").alias("e_id")), "h"
        )
        .groupBy("doc_id")
        .agg(F.min("e_id").alias("x_match"))
    )
    bands = _mh_capped_and_bands(spark, d)[1]
    ex_buckets = (
        bands.filter(F.col("doc_id") % 5 != 0)
        .groupBy("band", "h0", "h1")
        .agg(F.min("doc_id").alias("b_match"))
    )
    nearm = (
        bands.filter(F.col("doc_id") % 5 == 0)
        .join(ex_buckets, ["band", "h0", "h1"])
        .groupBy("doc_id")
        .agg(F.min("b_match").alias("n_match"))
    )
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(nearm, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("x_match").isNotNull(), "exact")
            .when(F.col("n_match").isNotNull(), "near")
            .otherwise("new")
            .alias("verdict"),
            F.coalesce("x_match", "n_match", F.lit(-1)).alias("match_id"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Class-balanced downsampling (declared)
# --------------------------------------------------------------------------

# The class-balancing step before training on skewed labels:
# downsample every language to the minority language's count,
# selecting by portable md5-head hash rank so the "random" subset is
# deterministic, seedable (the 'bal:' salt), and IDENTICAL on both
# engines — the same reproducible-sampling discipline as
# q_sample_hash/q_split_train, applied per group with an exact-k
# guarantee (hash-threshold sampling gives only expected-k). Output
# is the per-group contract (counts + the exact id-sum checksum of
# the kept set), not the row stream, so the declared check pins the
# SELECTED SET without hashing thousands of rows.


_BAL_ORACLE = f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY {{H}} , doc_id) AS rk
      FROM documents
    ),
    mincnt AS (
      SELECT MIN(cnt) AS k FROM (
        SELECT COUNT(*) AS cnt FROM documents GROUP BY lang
      )
    )
    SELECT r.lang,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN r.rk <= m.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r.rk <= m.k THEN r.doc_id ELSE 0 END)
                AS BIGINT) AS sum_kept_ids
    FROM ranked r CROSS JOIN mincnt m
    GROUP BY r.lang
    ORDER BY r.lang
"""


def _bal_oracle() -> str:
    from ._helpers import sql_h56

    return _BAL_ORACLE.replace(
        "{H}", sql_h56("'bal:' || CAST(doc_id AS VARCHAR)")
    )


@query("q_sample_balanced", oracle=_bal_oracle())
def q_sample_balanced(spark, d):
    """DECLARED class-balanced downsampling: every language keeps
    exactly min-group-count docs, chosen by portable md5-head hash
    rank (salted, so re-balancing with a different salt draws a
    different deterministic subset) — the skew-equalizing step
    q_sample_stratified (proportional) and q_sample_temperature
    (power-law reweighting) bracket. Contract output is per-group
    (n_before, n_kept, exact id-sum checksum of the kept set): the
    checksum pins the SELECTED rows, not just their count. Plan: one
    hash-rank window per language partition + a broadcast 1-row min
    count; at 100 TB the per-group sort is the cost — the docstringed
    escape is hash-threshold selection (expected-k, no sort) when
    exact-k isn't required."""
    from ._helpers import h56

    docs = load(spark, d, "documents")
    w = Window.partitionBy("lang").orderBy(
        h56("concat('bal:', cast(doc_id as string))"), "doc_id"
    )
    ranked = docs.select(
        "lang", "doc_id", F.row_number().over(w).alias("rk")
    )
    mincnt = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("k"))
    )
    return (
        ranked.crossJoin(F.broadcast(mincnt))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(F.when(F.col("rk") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("rk") <= F.col("k"), F.col("doc_id")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("sum_kept_ids"),
        )
        .orderBy("lang")
    )
