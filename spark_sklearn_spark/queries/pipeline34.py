"""Round-14 batch 3: drawdown analytics, reciprocal-rank retrieval
eval, 2×2 effect sizes, character-based readability, and partition
conductance.

Five operators:

- q_ts_drawdown: maximum drawdown + longest underwater spell of the
  cumulative deviation-from-mean walk of daily volume — the
  "worst below-trend excursion and how long it lasted" view that
  q_ts_cusum's reset alarm and q_ts_changepoint's split test don't
  report. All-integer walk (n·y_t − S sums to zero), exact BIGINT
  drawdowns, gaps-and-islands run lengths.
- q_ml_mrr: MRR@10 / precision@10 / recall@10 of the Hamming
  retrieval tier — the first-relevant-rank companions to
  q_ml_ndcg's graded gain, same panel, same integer posture.
- q_ml_odds_ratio: weekend×purchase 2×2 odds ratio + risk ratio
  with the Wald ln-CI — the epidemiology-standard effect size next
  to q_ml_chi2 (test) and q_ml_cramers_v (symmetric strength);
  ln-only floats (the proven libm surface — no asin/erf).
- q_text_ari: Automated Readability Index per language — the
  character-count readability twin of q_text_readability's
  syllable proxy (ARI was designed for machine scoring: chars/word
  and words/sentence only), exact integer moments.
- q_graph_conductance: cut conductance φ(S) = cut(S)/min(vol S,
  2E − vol S) of each first-superstep min-label community on the
  near-dup graph — the partition-quality view complementing
  q_graph_modularity (global score) and q_graph_leiden_refine
  (node-move gains); high-φ communities are the ones a second
  refinement pass would dissolve.

Reference parity: the public repo (databricks/spark-sklearn 0.3.0)
has no relational engine — these extend the SURVEY §2B surface,
cited to the public statistics they implement (Magdon-Ismail et al.
drawdown; Voorhees MRR; Cornfield 1951 odds ratio; Senter & Smith
1967 ARI; Kannan–Vempala–Vetta conductance).

Portability: the pipeline32/33 posture — exact BIGINT moments,
ln-only floats, floor-ppm/micro outputs, exponent-notation float
literals in shared texts, BIGINT casts on aggregates and windows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, register_views
from .behavior import DAILY_COUNTS_CTE
from .bigrams import NEAR_DUP_SYM_CTES, near_dup_sym

# --------------------------------------------------------------------------
# Maximum drawdown + longest underwater spell of the deviation walk
# --------------------------------------------------------------------------
#
# The daily count series is monotone in cumulative form, so drawdown
# runs on the CUMULATIVE DEVIATION walk P_t = Σ_{s≤t}(n·y_s − S)
# (integer, ends at 0): a below-trend stretch pulls P under its
# running peak. max drawdown = max(M_t − P_t) with M the running max;
# the underwater spell is the longest run of M_t − P_t > 0 — the
# gaps-and-islands trick (i − ROW_NUMBER over underwater rows groups
# consecutive days). Every value is exact BIGINT (n·y < 2^63 while
# n·max_daily < 9.2e18); the only float is the closing ppm share.
# Funnels: calendar-bounded daily windows + the 1-row totals
# broadcast (ONE_ROW_BROADCAST class).

_DRAWDOWN_SQL = f"""
    WITH {DAILY_COUNTS_CTE},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s
      FROM daily
    ),
    walk AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d.day) AS BIGINT) AS i,
             d.day,
             CAST(SUM(t.n * d.y - t.s)
                  OVER (ORDER BY d.day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS p
      FROM daily d CROSS JOIN tot t
    ),
    dd AS (
      SELECT i, day, p,
             CAST(MAX(p) OVER (ORDER BY i
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) - p AS draw
      FROM walk
    ),
    spells AS (
      SELECT i - CAST(ROW_NUMBER() OVER (ORDER BY i) AS BIGINT)
                 AS grp
      FROM dd WHERE draw > 0
    ),
    spell_len AS (
      SELECT CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS longest
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt
            FROM spells GROUP BY grp)
    ),
    peak AS (
      SELECT CAST(MAX(draw) AS BIGINT) AS max_draw,
             CAST(SUM(CASE WHEN draw > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_underwater,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM dd
    )
    SELECT p.n_days, p.max_draw, p.n_underwater, s.longest
               AS longest_underwater,
           CAST(floor(CAST(p.n_underwater AS DOUBLE) / p.n_days
                      * 1000000) AS BIGINT) AS underwater_ppm
    FROM peak p CROSS JOIN spell_len s
"""


@query("q_ts_drawdown", oracle=_DRAWDOWN_SQL)
def q_ts_drawdown(spark, d):
    """Max drawdown + longest underwater spell of the daily
    deviation walk (module comment): one calendar collapse, a 1-row
    totals broadcast, two stacked bounded windows (cumsum, running
    max), one gaps-and-islands run-length. Exact integers; one
    closing ppm. One SQL text runs verbatim on both engines."""
    register_views(spark, d, ["events"])
    return spark.sql(_DRAWDOWN_SQL)


# --------------------------------------------------------------------------
# MRR@10 / precision@10 / recall@10 of the Hamming retrieval tier
# --------------------------------------------------------------------------
#
# Same fixed probe panel, binary-signature candidates and label-match
# relevance as q_ml_ndcg, reporting the first-relevant-rank family:
# reciprocal rank (0 when no relevant in the top 10), hit precision,
# and recall against min(n_label−1, 10). Per-probe values are exact
# integer ppm (BIGINT div), label means are integer-div of sums —
# the whole metric is hash-exact and panel×corpus-linear.

_MRR_K = 10


def _mrr_probe_predicate():
    """Probe-panel membership for q_ml_mrr (vec_id % 100, the
    q_ml_ndcg panel). A module-level seam on purpose — the
    pipeline30._panel_predicate convention: tools/scale_probe.py
    --fixed-panel monkeypatches this to pin the panel to the base
    replica while the corpus replicates K×, proving panel×corpus
    linearity directly (replica vec_ids are ≡0 mod 100, so the
    plain replica probe grows the panel K× by construction)."""
    return F.col("vec_id") % 100 == 0

_MRR_ORACLE = """
    WITH {HAM_SIG},
    labeled AS (
      SELECT s.vec_id, s.lo, s.hi, CAST(e.label AS BIGINT) AS label
      FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id
    ),
    probes AS (SELECT * FROM labeled WHERE vec_id % 100 = 0),
    label_counts AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
      FROM labeled GROUP BY label
    ),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS p_label,
             c.label AS c_label,
             bit_count(xor(p.lo, c.lo)) + bit_count(xor(p.hi, c.hi))
                 AS hamming,
             c.vec_id AS nbr_id
      FROM probes p JOIN labeled c ON c.vec_id <> p.vec_id
    ),
    ranked AS (
      SELECT probe_id, p_label,
             CASE WHEN c_label = p_label THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY hamming, nbr_id) AS rnk
      FROM scored
    ),
    per_probe AS (
      SELECT probe_id, p_label,
             CAST(MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT)
                 AS first_rank,
             CAST(SUM(rel) AS BIGINT) AS hits
      FROM ranked
      WHERE rnk <= {K}
      GROUP BY probe_id, p_label
    ),
    pp AS (
      SELECT q.p_label,
             CASE WHEN q.first_rank IS NULL THEN 0
                  ELSE 1000000 // q.first_rank END AS rr_ppm,
             q.hits * 1000000 // {K} AS p_at_k_ppm,
             q.hits * 1000000
               // (CASE WHEN lc.n_label - 1 < {K}
                        THEN lc.n_label - 1 ELSE {K} END) AS rec_ppm
      FROM per_probe q
      JOIN label_counts lc ON lc.label = q.p_label
      WHERE lc.n_label > 1
    )
    SELECT p_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(rr_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
               AS mean_mrr_ppm,
           CAST(SUM(p_at_k_ppm) AS BIGINT)
               // CAST(COUNT(*) AS BIGINT) AS mean_p10_ppm,
           CAST(SUM(rec_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
               AS mean_recall10_ppm
    FROM pp
    GROUP BY p_label
    ORDER BY p_label
"""


def _mrr_oracle() -> str:
    from .pipeline7 import HAM_SIG_SQL

    return _MRR_ORACLE.replace("{HAM_SIG}", HAM_SIG_SQL).replace(
        "{K}", str(_MRR_K)
    )


@query("q_ml_mrr", oracle=_mrr_oracle())
def q_ml_mrr(spark, d):
    """MRR@10 / P@10 / recall@10 of Hamming retrieval (module
    comment): panel broadcast into the signature scan, per-probe
    rank windows, integer-ppm per-probe values, integer-div label
    means — the q_ml_ndcg shape with first-relevant semantics."""
    from .pipeline7 import hamming_sig

    emb = load(spark, d, "embeddings")
    labeled = hamming_sig(emb).join(
        emb.select(
            "vec_id", F.col("label").cast("long").alias("label")
        ),
        "vec_id",
    )
    probes = labeled.filter(_mrr_probe_predicate()).select(
        F.col("vec_id").alias("probe_id"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
        F.col("label").alias("p_label"),
    )
    label_counts = labeled.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_label")
    )
    scored = (
        F.broadcast(probes)
        .crossJoin(labeled)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "p_label",
            F.when(F.col("label") == F.col("p_label"), 1)
            .otherwise(0)
            .alias("rel"),
            (
                F.bit_count(F.col("p_lo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("p_hi").bitwiseXOR(F.col("hi")))
            ).alias("hamming"),
            F.col("vec_id").alias("nbr_id"),
        )
    )
    ranked = scored.select(
        "probe_id",
        "p_label",
        "rel",
        F.expr(
            "row_number() OVER (PARTITION BY probe_id"
            " ORDER BY hamming, nbr_id)"
        ).alias("rnk"),
    ).filter(F.col("rnk") <= _MRR_K)
    per_probe = ranked.groupBy("probe_id", "p_label").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rnk")))
        .cast("long")
        .alias("first_rank"),
        F.sum("rel").cast("long").alias("hits"),
    )
    pp = (
        per_probe.join(
            F.broadcast(
                label_counts.selectExpr(
                    "label AS p_label",
                    f"CASE WHEN n_label - 1 < {_MRR_K}"
                    f" THEN n_label - 1 ELSE {_MRR_K} END AS k_eff",
                    "n_label",
                )
            ),
            "p_label",
        )
        .filter(F.col("n_label") > 1)
        .selectExpr(
            "p_label",
            "CASE WHEN first_rank IS NULL THEN 0L"
            " ELSE 1000000L div first_rank END AS rr_ppm",
            f"hits * 1000000L div {_MRR_K} AS p_at_k_ppm",
            "hits * 1000000L div k_eff AS rec_ppm",
        )
    )
    return (
        pp.groupBy(F.col("p_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("rr_ppm").alias("s_rr"),
            F.sum("p_at_k_ppm").alias("s_p"),
            F.sum("rec_ppm").alias("s_r"),
        )
        .selectExpr(
            "label",
            "n_probes",
            "s_rr div n_probes AS mean_mrr_ppm",
            "s_p div n_probes AS mean_p10_ppm",
            "s_r div n_probes AS mean_recall10_ppm",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Weekend × purchase odds ratio with Wald ln-CI
# --------------------------------------------------------------------------
#
# 2×2 table: exposure = weekend (ISO dow ≥ 6), outcome = purchase.
# OR = (a·d)/(b·c) and RR = (a/(a+b))/(c/(c+d)) are exact integer
# rationals (floor-micro via identical-operand doubles); the Wald CI
# exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)) uses only ln/exp/sqrt on
# identical doubles — the proven libm surface (deliberately OR/RR,
# not Cohen's h: asin is an unproven cross-engine call). int64: a·d
# < 2^63 while n < 3e9. ISO dow mirrors q_ml_chi2's pinned pair.
# The ln argument's NUMERATOR is NULLIF-guarded per cell (ADVICE
# r14): a=0 or d=0 makes ln(0) diverge across engines (Spark NULL,
# DuckDB -inf) — guarding a and d yields NULL CI bounds on both.


def _odds_sql(dow_expr: str) -> str:
    return f"""
    WITH flagged AS (
      SELECT CASE WHEN {dow_expr} >= 6 THEN 1 ELSE 0 END AS exposed,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                 AS outcome
      FROM events
    ),
    cm AS (
      SELECT CAST(SUM(CASE WHEN exposed = 1 AND outcome = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN exposed = 1 AND outcome = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN exposed = 0 AND outcome = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN exposed = 0 AND outcome = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM flagged
    )
    SELECT a, b, c, d,
           CAST(floor(CAST(a AS DOUBLE) * d
                      / NULLIF(CAST(b AS DOUBLE) * c,
                               CAST(0 AS DOUBLE))
                      * 1000000) AS BIGINT) AS odds_ratio_micro,
           CAST(floor((CAST(a AS DOUBLE) / NULLIF(a + b, 0))
                      / NULLIF(CAST(c AS DOUBLE) / NULLIF(c + d, 0),
                               CAST(0 AS DOUBLE))
                      * 1000000) AS BIGINT) AS risk_ratio_micro,
           CAST(floor(exp(ln(CAST(NULLIF(a, 0) AS DOUBLE)
                             * NULLIF(d, 0)
                             / NULLIF(CAST(b AS DOUBLE) * c,
                                      CAST(0 AS DOUBLE)))
                          - 1.96e0 * sqrt(1.0e0 / NULLIF(a, 0)
                                          + 1.0e0 / NULLIF(b, 0)
                                          + 1.0e0 / NULLIF(c, 0)
                                          + 1.0e0 / NULLIF(d, 0)))
                      * 1000000) AS BIGINT) AS or_ci_lo_micro,
           CAST(floor(exp(ln(CAST(NULLIF(a, 0) AS DOUBLE)
                             * NULLIF(d, 0)
                             / NULLIF(CAST(b AS DOUBLE) * c,
                                      CAST(0 AS DOUBLE)))
                          + 1.96e0 * sqrt(1.0e0 / NULLIF(a, 0)
                                          + 1.0e0 / NULLIF(b, 0)
                                          + 1.0e0 / NULLIF(c, 0)
                                          + 1.0e0 / NULLIF(d, 0)))
                      * 1000000) AS BIGINT) AS or_ci_hi_micro
    FROM cm
    """


@query(
    "q_ml_odds_ratio", oracle=_odds_sql("CAST(isodow(ts) AS BIGINT)")
)
def q_ml_odds_ratio(spark, d):
    """Weekend×purchase odds/risk ratio + Wald CI (module comment):
    ONE combinable 4-cell agg, stateless 1-row effect-size
    projection. Same SQL text modulo the pinned isodow/dayofweek
    pair (GLOBAL_VERDICT funnel only)."""
    register_views(spark, d, ["events"])
    return spark.sql(_odds_sql("(((dayofweek(ts) + 5) % 7) + 1)"))


# --------------------------------------------------------------------------
# Automated Readability Index per language
# --------------------------------------------------------------------------
#
# ARI = 4.71·(chars/words) + 0.5·(words/sentences) − 21.43, designed
# for machine scoring (character counts only — no syllable model, so
# it complements q_text_readability's syllable-proxy Flesch).
# Characters = non-space length, words = space-split tokens,
# sentences = '.' count clamped to ≥1 per doc. All three are exact
# per-document integers summed per language; the closing formula is
# identical-operand IEEE floored to centi (the conventional ARI
# grain). ONE SQL text runs verbatim on both engines.

_ARI_SQL = """
    WITH per_doc AS (
      SELECT lang,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS words,
             CAST(greatest(length(text)
                           - length(replace(text, '.', '')), 1)
                  AS BIGINT) AS sentences
      FROM documents
    ),
    per_lang AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(chars) AS BIGINT) AS n_chars,
             CAST(SUM(words) AS BIGINT) AS n_words,
             CAST(SUM(sentences) AS BIGINT) AS n_sentences
      FROM per_doc GROUP BY lang
    )
    SELECT lang, n_docs, n_chars, n_words, n_sentences,
           CAST(floor((4.71e0 * (CAST(n_chars AS DOUBLE) / n_words)
                       + 0.5e0 * (CAST(n_words AS DOUBLE)
                                  / n_sentences)
                       - 21.43e0) * 100) AS BIGINT) AS ari_centi
    FROM per_lang
    ORDER BY lang
"""


@query("q_text_ari", oracle=_ARI_SQL)
def q_text_ari(spark, d):
    """Automated Readability Index per language (module comment):
    one projection scan into a per-lang moment agg — no explode, no
    shuffle beyond the enum-grain collapse; exact integer counts,
    one identical-IEEE formula floored to centi. One SQL text runs
    verbatim on both engines."""
    register_views(spark, d, ["documents"])
    return spark.sql(_ARI_SQL)


# --------------------------------------------------------------------------
# Conductance of the first-superstep min-label communities
# --------------------------------------------------------------------------
#
# One min-label superstep l1(v) = min(v, min neighbor) over the
# memoized near-dup graph (the q_graph_leiden_refine partition),
# then per community S: vol(S) = Σ_{v∈S} deg(v), cut(S) = #edge
# endpoints leaving S, φ(S) = cut/min(vol, 2E − vol) — low φ =
# well-separated cluster, φ → 1 = a community the next refinement
# pass would dissolve. Exact integer cut/vol counts; φ is one
# identical-operand division floored to ppm. Report the 10 largest
# communities by volume (node-id tie-break) — a bounded TakeOrdered
# head over the community-grain relation.

_COND_TOPK = 10


_CONDUCTANCE_ORACLE = f"""
        WITH {NEAR_DUP_SYM_CTES},
        l1 AS MATERIALIZED (
          SELECT src AS v,
                 CAST(least(src, MIN(dst)) AS BIGINT) AS lbl
          FROM sym GROUP BY src
        ),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS two_e FROM sym),
        vols AS (
          SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS vol,
                 CAST(COUNT(DISTINCT s.src) AS BIGINT) AS n_nodes
          FROM sym s JOIN l1 l ON l.v = s.src
          GROUP BY l.lbl
        ),
        cuts AS (
          SELECT la.lbl, CAST(SUM(CASE WHEN la.lbl <> lb.lbl
                                       THEN 1 ELSE 0 END) AS BIGINT)
                     AS cut
          FROM sym s
          JOIN l1 la ON la.v = s.src
          JOIN l1 lb ON lb.v = s.dst
          GROUP BY la.lbl
        )
        SELECT v.lbl AS community, v.n_nodes, v.vol, c.cut,
               CAST(floor(CAST(c.cut AS DOUBLE)
                          / least(v.vol, t.two_e - v.vol)
                          * 1000000) AS BIGINT) AS conductance_ppm
        FROM vols v
        JOIN cuts c ON c.lbl = v.lbl
        CROSS JOIN m t
        WHERE v.vol < t.two_e
        ORDER BY v.vol DESC, v.lbl
        LIMIT {_COND_TOPK}
"""


# ROUND-safe: the only ROUND is the driver-PROVEN q_dedup_ngram edge
# predicate (pass r4) in NEAR_DUP_EDGES_CTES, shared by the whole
# near-dup graph family.
@query("q_graph_conductance", oracle=_CONDUCTANCE_ORACLE)
def q_graph_conductance(spark, d):
    """Community conductance after one min-label superstep (module
    comment): one neighbor-min agg labels every node, two doc-keyed
    label lookups classify each directed edge endpoint, community-
    grain cut/vol aggs, a TakeOrdered top-10 head. Snapshot-sized
    relations throughout; excludes the whole-graph community (vol =
    2E has no complement)."""
    sym = near_dup_sym(spark, d)
    l1 = sym.groupBy("src").agg(
        F.least(F.col("src"), F.min("dst")).cast("long").alias("lbl")
    ).select(F.col("src").alias("v"), "lbl")
    two_e = sym.agg(F.count(F.lit(1)).alias("two_e"))
    lab = (
        sym.join(
            l1.select(F.col("v").alias("src"), F.col("lbl").alias("la")),
            "src",
        )
        .join(
            l1.select(F.col("v").alias("dst"), F.col("lbl").alias("lb")),
            "dst",
        )
    )
    vols = lab.groupBy(F.col("la").alias("lbl")).agg(
        F.count(F.lit(1)).alias("vol"),
        F.countDistinct("src").alias("n_nodes"),
    )
    cuts = lab.groupBy(F.col("la").alias("lbl")).agg(
        F.sum(F.when(F.col("la") != F.col("lb"), 1).otherwise(0))
        .cast("long")
        .alias("cut")
    )
    return (
        vols.join(cuts, "lbl")
        .crossJoin(F.broadcast(two_e))
        .filter(F.col("vol") < F.col("two_e"))
        .selectExpr(
            "lbl AS community",
            "n_nodes",
            "vol",
            "cut",
            "cast(floor(cast(cut as double)"
            " / least(vol, two_e - vol) * 1000000) as bigint)"
            " AS conductance_ppm",
        )
        .orderBy(F.desc("vol"), F.asc("community"))
        .limit(_COND_TOPK)
    )
