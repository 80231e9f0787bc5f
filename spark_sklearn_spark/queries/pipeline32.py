"""Round-14 batch: categorical association, lexical concentration,
three classical series randomness/efficiency tests, concentration
indices, k-truss support, content-defined chunking, Brier
decomposition, and per-dimension embedding entropy.

Ten operators extending the ml/text/ts/behavior/graph/dedup/emb
families:

- q_ml_cramers_v: Cramér's V between document language and source —
  the normalized effect-size companion to q_ml_chi2 (which tests
  independence but whose χ² grows with n; V is scale-free in [0,1]).
- q_text_yule_k: Yule's characteristic K per language — the
  repeat-rate lexical-concentration constant (Yule 1944), the
  author/corpus-size-invariant twin of q_text_simpson's D; exact
  integers end to end.
- q_ts_runs_test: Wald–Wolfowitz runs test on the signs of daily
  delta — is the direction of day-over-day movement random?
- q_ts_turning_points: Kendall's turning-point test — local
  extremum count vs the 2(n−2)/3 i.i.d. expectation.
- q_ts_variance_ratio: Lo–MacKinlay variance ratio VR(q) for
  q ∈ {2,4,8} over daily increments — the random-walk/mean-reversion
  diagnostic (VR<1 mean-reverting, >1 trending).
- q_behavior_hhi: Herfindahl–Hirschman concentration of per-user
  activity within each event type — the antitrust-style "is this
  event type dominated by a few users" number next to
  q_behavior_gini's global inequality view.
- q_graph_truss_support: k-truss edge-support histogram over the
  near-dup graph (Cohen 2008) — the edge-grain analog of
  q_graph_kcore's node peel; support(e) = #triangles through e, and
  edges with support ≥ k−2 are the k-truss candidates.
- q_dedup_cdc: content-defined chunking (the Rabin/FastCDC dedup
  primitive): rolling-hash boundaries cut each document into
  variable-size chunks whose identity survives insertions — corpus
  chunk-dedup ratio + chunk-shape stats.
- q_ml_brier_decomp: Murphy (1973) decomposition of the binned Brier
  score — reliability − resolution + uncertainty — over the SAME
  bit-identical 3-step GD logistic scores as q_ml_logreg /
  q_ml_calibration.
- q_emb_dim_entropy: per-dimension Shannon entropy of 8-bin
  quantized embedding values — the axis-collapse screen next to
  q_emb_dimstats (low entropy = dimension carries no information;
  complements q_emb_isotropy's global spectral view).

Reference parity: the public repo (databricks/spark-sklearn 0.3.0)
has no relational engine — these extend the SURVEY §2B surface,
cited against the public statistics they implement (Cramér 1946;
Yule 1944; Wald–Wolfowitz 1940; Kendall 1976; Lo–MacKinlay 1988;
Herfindahl–Hirschman; Cohen 2008 k-truss; Muthitacharoen et al. 2001
LBFS content-defined chunking; Murphy 1973) re-expressed as Spark
DataFrame/SQL plans.

Portability posture (CLAUDE.md contract rules): integer/ppm/micro
outputs via floor() on identical-IEEE doubles whose inputs are exact
BIGINTs; decimal-quantized per-term sums wherever summation order
could move a float; shared ONE-SQL-text queries avoid bare decimal
literals against integers (Spark parses `2.0` as DECIMAL — exponent
notation `2.0e0` is DOUBLE on both engines) and CAST every window/
group SUM to BIGINT (DuckDB HUGEINT parity).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, register_views
from ._helpers import DEC
from .behavior import DAILY_COUNTS_CTE
from .bigrams import NEAR_DUP_SYM_CTES, near_dup_edges, near_dup_sym
from .fits import LR_BINS_CTES, lr_decile_bins
from .rolling_hash import ROLL_HASHES_CTES, rolling_hash_arrays

# --------------------------------------------------------------------------
# Cramér's V between document language and source
# --------------------------------------------------------------------------
#
# V = sqrt(χ² / (n·(min(R,C)−1))) over the lang×source contingency
# table. χ² uses the q_ml_chi2 all-integer identity
# (o·n − r·c)²/(r·c·n) with per-cell DECIMAL(30,10) quantization, so
# aggregation order cannot move it; the closing sqrt sees an
# identical double on both engines (chi2_micro BIGINT → double is
# exact). Grid is |langs|×|sources| — metadata-sized after one scan.
# int64 headroom: o·n and r·c stay under 2^63 while n < 3e9 docs;
# past that, widen the cell products to DECIMAL(38,0) on both sides.
# ONE SQL text runs verbatim on both engines (the q_ts_cusum
# posture); the rows_/cols_ marginals are re-derived per reference
# (documents is the smallest non-TPC-H table; Catalyst reuses the
# scan exchange).

_CRAMERS_SQL = """
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    rows_ AS (
      SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY lang
    ),
    cols_ AS (
      SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM cells
      GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT CAST(
               CAST(ce.o * t.n - r.r * co.c AS DOUBLE)
               * CAST(ce.o * t.n - r.r * co.c AS DOUBLE)
               / (CAST(r.r AS DOUBLE) * co.c * t.n)
               AS DECIMAL(30,10)) AS term
      FROM cells ce
      JOIN rows_ r ON r.lang = ce.lang
      JOIN cols_ co ON co.source = ce.source
      CROSS JOIN tot t
    ),
    dims AS (
      SELECT r.n_rows, c.n_cols, t.n, x.chi2_micro
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM rows_) r
      CROSS JOIN
           (SELECT CAST(COUNT(*) AS BIGINT) AS n_cols FROM cols_) c
      CROSS JOIN tot t
      CROSS JOIN
           (SELECT CAST(floor(CAST(SUM(term) AS DOUBLE) * 1000000)
                        AS BIGINT) AS chi2_micro
            FROM terms) x
    )
    SELECT n, n_rows, n_cols, chi2_micro,
           CAST(floor(sqrt((CAST(chi2_micro AS DOUBLE) / 1000000)
                           / (CAST(n AS DOUBLE)
                              * NULLIF(least(n_rows, n_cols) - 1, 0)))
                      * 1000000) AS BIGINT) AS v_ppm
    FROM dims
"""


@query("q_ml_cramers_v", oracle=_CRAMERS_SQL)
def q_ml_cramers_v(spark, d):
    """Cramér's V effect size for the lang×source association
    (module comment): one bounded-grid contingency agg, two marginal
    rollups, decimal-quantized χ² terms, closing sqrt on an exact
    BIGINT→double. One SQL text runs verbatim on both engines.

    Shape: the only corpus shuffle is the (lang, source) count agg;
    everything downstream is grid-sized, and the 1-row totals CROSS
    JOINs are the sanctioned Lloyd-shape broadcasts
    (ONE_ROW_BROADCAST exemption class)."""
    register_views(spark, d, ["documents"])
    return spark.sql(_CRAMERS_SQL)


# --------------------------------------------------------------------------
# Yule's characteristic K per language
# --------------------------------------------------------------------------
#
# K = 10⁴·(Σ_m m²·V(m) − N)/N² where V(m) = #types occurring m times
# — equivalently 10⁴·(S₂ − N)/N² with S₂ = Σ_types c². The classic
# repeat-rate constant: corpus-size invariant where raw TTR is not,
# and the ×10⁴ twin of Simpson's D (q_text_simpson) under the
# with-replacement sampling model. Exact BIGINT moments; the single
# division is identical-operand IEEE, floored to milli-K.
# int64 headroom: (S₂−N)·10⁷ < 2^63 while S₂ < 9.2e11 — comfortable
# at driver scales; past that, route the numerator through
# DECIMAL(38,0) on both engines (the q_behavior_gini posture).

_YULE_ORACLE = """
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    counts AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, w
    ),
    per_lang AS (
      SELECT lang,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM counts GROUP BY lang
    )
    SELECT lang, n_tokens, n_types, s2,
           CAST(floor(CAST(s2 - n_tokens AS DOUBLE) * 10000000
                      / (CAST(n_tokens AS DOUBLE) * n_tokens))
                AS BIGINT) AS yule_k_milli
    FROM per_lang
    WHERE n_tokens > 1
    ORDER BY lang
"""


@query("q_text_yule_k", oracle=_YULE_ORACLE)
def q_text_yule_k(spark, d):
    """Yule's K per language (module comment): one token explode
    into a (lang, word) combinable agg, one per-lang collapse —
    integers end to end, one identical-operand division floored to
    milli (the q_text_simpson shape on the lang axis)."""
    docs = load(spark, d, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    )
    counts = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_lang = counts.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return (
        per_lang.filter(F.col("n_tokens") > 1)
        .selectExpr(
            "lang",
            "n_tokens",
            "n_types",
            "s2",
            "cast(floor(cast(s2 - n_tokens as double) * 10000000"
            " / (cast(n_tokens as double) * n_tokens)) as bigint)"
            " AS yule_k_milli",
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Wald–Wolfowitz runs test on daily up/down movements
# --------------------------------------------------------------------------
#
# Signs of the day-over-day delta of the daily event count (zero
# deltas dropped, the standard treatment); R = number of sign runs.
# Under randomness μ_R = 2·n₊·n₋/(n₊+n₋) + 1 and
# σ²_R = 2n₊n₋(2n₊n₋−n₊−n₋) / ((n₊+n₋)²(n₊+n₋−1)); z = (R−μ)/σ.
# |z| > 2 flags trend/oscillation structure a mean-based monitor
# misses. All moment inputs are exact BIGINTs (day counts), so every
# double below is identical IEEE on both engines; outputs floor to
# micro. The daily collapse is calendar-bounded, so the global sign/
# run windows run on a bounded relation (GLOBAL_WINDOW_BOUNDED).

_RUNS_SQL = f"""
    WITH {DAILY_COUNTS_CTE},
    delta AS (
      SELECT day, y - LAG(y) OVER (ORDER BY day) AS d FROM daily
    ),
    signs AS (
      SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
      FROM delta WHERE d IS NOT NULL AND d <> 0
    ),
    flagged AS (
      SELECT s,
             CASE WHEN LAG(s) OVER (ORDER BY day) IS NULL
                    OR LAG(s) OVER (ORDER BY day) <> s
                  THEN 1 ELSE 0 END AS new_run
      FROM signs
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_up,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_down,
             CAST(SUM(new_run) AS BIGINT) AS n_runs
      FROM flagged
    )
    SELECT n_up, n_down, n_runs,
           CAST(floor((2.0e0 * n_up * n_down
                       / NULLIF(n_up + n_down, 0) + 1.0e0)
                      * 1000000) AS BIGINT) AS mu_micro,
           CAST(floor(
             (CAST(n_runs AS DOUBLE)
              - (2.0e0 * n_up * n_down / NULLIF(n_up + n_down, 0)
                 + 1.0e0))
             / NULLIF(sqrt(
                 (2.0e0 * n_up * n_down
                  * (2.0e0 * n_up * n_down - n_up - n_down))
                 / (CAST(n_up + n_down AS DOUBLE) * (n_up + n_down)
                    * NULLIF(n_up + n_down - 1, 0))),
               CAST(0 AS DOUBLE))
             * 1000000) AS BIGINT) AS z_micro
    FROM agg
"""


@query("q_ts_runs_test", oracle=_RUNS_SQL)
def q_ts_runs_test(spark, d):
    """Wald–Wolfowitz runs test on daily up/down signs (module
    comment): one calendar collapse, two global windows over the
    bounded daily relation (lag-delta, lag-sign), one 1-row moment
    agg, closed-form μ/σ/z in identical-operand doubles floored to
    micro. One SQL text runs verbatim on both engines."""
    register_views(spark, d, ["events"])
    return spark.sql(_RUNS_SQL)


# --------------------------------------------------------------------------
# Kendall's turning-point test on the daily series
# --------------------------------------------------------------------------
#
# T = #strict local extrema among interior days ((y−prev)·(next−y)<0;
# plateau days excluded). For an i.i.d. series E[T] = 2(n−2)/3 and
# Var[T] = (16n−29)/90 — z = (T−E)/σ measures smoothness (z ≪ 0:
# trending/seasonal, too few turns) vs noise (z ≈ 0) in one number,
# the nonparametric cousin of q_ts_runs_test (which sees signs, not
# extrema). Same bounded-daily-grain posture; identical IEEE closed
# forms, floor-micro outputs.

_TURNING_SQL = f"""
    WITH {DAILY_COUNTS_CTE},
    ctx AS (
      SELECT y,
             LAG(y) OVER (ORDER BY day) AS yp,
             LEAD(y) OVER (ORDER BY day) AS yn
      FROM daily
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN yp IS NOT NULL AND yn IS NOT NULL
                             AND (y - yp) * (yn - y) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
      FROM ctx
    )
    SELECT n AS n_days, n_turning,
           CAST(floor(2.0e0 * (n - 2) / 3.0e0 * 1000000) AS BIGINT)
               AS expected_micro,
           CAST(floor(
             (CAST(n_turning AS DOUBLE) - 2.0e0 * (n - 2) / 3.0e0)
             / NULLIF(sqrt((16.0e0 * n - 29.0e0) / 90.0e0),
                      CAST(0 AS DOUBLE))
             * 1000000) AS BIGINT) AS z_micro
    FROM agg
"""


@query("q_ts_turning_points", oracle=_TURNING_SQL)
def q_ts_turning_points(spark, d):
    """Kendall turning-point randomness test (module comment): one
    calendar collapse, one lag/lead window over the bounded daily
    relation, one 1-row agg, closed-form E/Var/z floored to micro.
    One SQL text runs verbatim on both engines. Distinct from
    q_ts_peaks, which RETURNS the extremum rows — this is the
    i.i.d.-null hypothesis TEST on their count."""
    register_views(spark, d, ["events"])
    return spark.sql(_TURNING_SQL)


# --------------------------------------------------------------------------
# Lo–MacKinlay variance ratio VR(q) on daily increments
# --------------------------------------------------------------------------
#
# VR(q) = Var(q-period overlapping sums)/(q·Var(1-period increments))
# over d_i = y_i − y_{i−1}; a random walk gives VR = 1, mean
# reversion < 1, trending > 1. Overlapping q-sums come from ONE
# bounded-frame window per horizon (ROWS q−1 PRECEDING), moments are
# exact BIGINTs, and population variances combine in identical IEEE
# doubles → floor-ppm. All three horizons ride the same window pass;
# the output is ONE row (vr2/vr4/vr8 columns), so the 1-row moment
# relation is referenced once — no CTE re-evaluation on either
# engine (the rich_club UNION-ALL shape deliberately avoided).

_VR_QS = (2, 4, 8)


def _vr_sql() -> str:
    win_cols = ",\n             ".join(
        f"CAST(SUM(d) OVER (ORDER BY i ROWS BETWEEN {q - 1} PRECEDING"
        f" AND CURRENT ROW) AS BIGINT) AS s{q}"
        for q in _VR_QS
    )
    mom_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN i >= {q} THEN s{q} ELSE 0 END) AS BIGINT)"
        f" AS q{q}s,\n             "
        f"CAST(SUM(CASE WHEN i >= {q} THEN s{q} * s{q} ELSE 0 END)"
        f" AS BIGINT) AS q{q}ss"
        for q in _VR_QS
    )
    vr_cols = ",\n           ".join(
        f"""CAST(floor(
             ((CAST(q{q}ss AS DOUBLE)
               - CAST(q{q}s AS DOUBLE) * q{q}s / NULLIF(n1 - {q - 1}, 0))
              / NULLIF(n1 - {q - 1}, 0))
             / NULLIF({q}.0e0 * ((CAST(sdd AS DOUBLE)
                                  - CAST(sd AS DOUBLE) * sd / n1) / n1),
                      CAST(0 AS DOUBLE))
             * 1000000) AS BIGINT) AS vr{q}_ppm"""
        for q in _VR_QS
    )
    return f"""
    WITH {DAILY_COUNTS_CTE},
    delta AS (
      SELECT day, y - LAG(y) OVER (ORDER BY day) AS d FROM daily
    ),
    dd AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, d
      FROM delta WHERE d IS NOT NULL
    ),
    sums AS (
      SELECT i, d,
             {win_cols}
      FROM dd
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(d * d) AS BIGINT) AS sdd,
             {mom_cols}
      FROM sums
    )
    SELECT n1 AS n_increments,
           {vr_cols}
    FROM mom
    """


@query("q_ts_variance_ratio", oracle=_vr_sql())
def q_ts_variance_ratio(spark, d):
    """Lo–MacKinlay VR(2)/VR(4)/VR(8) on daily increments (module
    comment): one calendar collapse, one global window pass carrying
    all three overlapping-sum frames over the bounded daily
    relation, one 1-row moment agg, identical-IEEE variance ratios
    floored to ppm. One SQL text runs verbatim on both engines."""
    register_views(spark, d, ["events"])
    return spark.sql(_vr_sql())


# --------------------------------------------------------------------------
# Herfindahl–Hirschman concentration of activity per event type
# --------------------------------------------------------------------------
#
# HHI = Σ_u (x_u/S)² per event type — the market-concentration index
# on user shares (1/n_users = perfectly even, 1 = one user is the
# whole market); the normalized form (HHI − 1/n)/(1 − 1/n) rescales
# out the participant count. Σx² and S are exact BIGINTs, the ratios
# identical-operand IEEE, floor-ppm. int64 headroom: Σx² < 2^63
# while per-type events < 3e9; past that, widen Σx² to DECIMAL(38,0)
# on both engines. Per-type output grain (enum-bounded rows).

_HHI_SQL = """
    WITH per_user AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, user_id
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(x) AS BIGINT) AS n_events,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM per_user GROUP BY event_type
    )
    SELECT event_type, n_users, n_events,
           CAST(floor(CAST(s2 AS DOUBLE)
                      / (CAST(n_events AS DOUBLE) * n_events)
                      * 1000000) AS BIGINT) AS hhi_ppm,
           CAST(floor(
             (CAST(s2 AS DOUBLE)
              / (CAST(n_events AS DOUBLE) * n_events)
              - 1.0e0 / n_users)
             / NULLIF(1.0e0 - 1.0e0 / n_users, CAST(0 AS DOUBLE))
             * 1000000) AS BIGINT) AS hhi_norm_ppm
    FROM agg
    ORDER BY event_type
"""


@query("q_behavior_hhi", oracle=_HHI_SQL)
def q_behavior_hhi(spark, d):
    """Per-event-type HHI of user-activity concentration (module
    comment): one (type, user) combinable agg — the only corpus
    shuffle — then an enum-grain collapse; exact integer moments,
    identical-operand ratios floored to ppm (normalized HHI is NULL
    for a single-user type on both engines). One SQL text runs
    verbatim on both engines."""
    register_views(spark, d, ["events"])
    return spark.sql(_HHI_SQL)


# --------------------------------------------------------------------------
# k-truss edge-support histogram over the near-dup graph
# --------------------------------------------------------------------------
#
# support(e=(a,b)) = |N(a) ∩ N(b)| — the number of triangles through
# the edge. The k-truss (Cohen 2008) is the maximal subgraph whose
# every edge has support ≥ k−2, the edge-grain cohesion analog of
# q_graph_kcore's node peel and the severity ladder between
# q_graph_triangles (global count) and q_graph_jaccard_nbrs
# (normalized per-edge overlap): the support HISTOGRAM is the
# first-peel view that says how much of the near-dup graph is
# clique-like vs chain-like. Spark side: one collect_set per node
# (degree-bounded on the near-dup graph), edge⋈neighbor equi-joins,
# map-side array_intersect — no wedge join, no second shuffle over
# pairs. Snapshot-sized relations throughout (near_dup_edges memo).


_TRUSS_ORACLE = f"""
        WITH {NEAR_DUP_SYM_CTES},
        tri AS (
          SELECT e.doc_a, e.doc_b, CAST(COUNT(*) AS BIGINT) AS s
          FROM edges0 e
          JOIN sym x ON x.src = e.doc_a
          JOIN sym y ON y.src = e.doc_b AND y.dst = x.dst
          GROUP BY e.doc_a, e.doc_b
        ),
        supp AS (
          SELECT e.doc_a, e.doc_b,
                 CAST(COALESCE(t.s, 0) AS BIGINT) AS support
          FROM edges0 e
          LEFT JOIN tri t
            ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
        )
        SELECT support, CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM supp GROUP BY support ORDER BY support
"""


# ROUND-safe: the only ROUND is the driver-PROVEN q_dedup_ngram edge
# predicate (pass r4) in NEAR_DUP_EDGES_CTES, shared by the whole
# near-dup graph family.
@query("q_graph_truss_support", oracle=_TRUSS_ORACLE)
def q_graph_truss_support(spark, d):
    """k-truss edge-support histogram (module comment): per-node
    neighbor sets from ONE collect_set agg over the memoized edge
    snapshot, two doc-keyed equi-joins to attach both endpoint sets,
    map-side array_intersect for support, one bounded histogram agg.

    Shape: every relation after the snapshot read is edge-/node-
    sized (the near-dup graph, not the corpus); joins are key
    equi-joins; the histogram grain is bounded by max degree."""
    edges = near_dup_edges(spark, d).select("doc_a", "doc_b")
    nbrs = near_dup_sym(spark, d).groupBy(F.col("src").alias("node")).agg(
        F.collect_set("dst").alias("nb")
    )
    supp = (
        edges.join(
            nbrs.select(
                F.col("node").alias("doc_a"), F.col("nb").alias("nb_a")
            ),
            "doc_a",
        )
        .join(
            nbrs.select(
                F.col("node").alias("doc_b"), F.col("nb").alias("nb_b")
            ),
            "doc_b",
        )
        .select(
            F.size(F.array_intersect("nb_a", "nb_b"))
            .cast("long")
            .alias("support")
        )
    )
    return (
        supp.groupBy("support")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .orderBy("support")
    )


# --------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup profile
# --------------------------------------------------------------------------
#
# The Rabin/LBFS primitive (Muthitacharoen et al. 2001) under every
# storage/training-data dedup system: cut each document where the
# rolling 5-gram hash satisfies h ≡ 0 (mod 64) — boundaries move
# WITH content, so an insertion only re-chunks its neighborhood
# (fixed-size blocks would shift every downstream block). Expected
# chunk length = the 64-gram divisor. Chunk identity = the sum of
# (h mod 2^40) over the chunk's grams — a content signature both
# engines compute exactly in int64 (2^40·len < 2^63 for docs under
# 8.4M chars; the documented headroom). Outputs: corpus chunk count,
# distinct-signature count, dup-chunk ppm, mean chunk length.
#
# Scale: chunking is per-document LOCAL, so the whole cut stays
# IN-ROW (the q_text_winnow posture): boundary positions via one
# array filter, per-chunk signatures via per-chunk folds over
# DISJOINT ranges (total work linear in the doc — a fold inside a
# per-element lambda is only the O(len²) trap when ranges overlap),
# and only the ≤len/64-element chunk structs explode. The exploded
# grain is chunks, not grams: a gram-grain posexplode measured 280 s
# at sf0.1 because the generator's one-reference hs column collapsed
# into the Generate node and the interpreted O(len) transform re-ran
# per output row (the CollapseProject inlining trap — winnow's
# "references hs 4x" note); the in-row form measures ~2 s.

_CDC_MOD = 64
_SIG_MOD = 1 << 40


_CDC_ORACLE = f"""
        WITH {ROLL_HASHES_CTES},
        flagged AS (
            SELECT doc_id, i, h,
                   CASE WHEN i = 1 OR h % {_CDC_MOD} = 0
                        THEN 1 ELSE 0 END AS b
            FROM hashes
        ),
        chunked AS (
            SELECT doc_id, h,
                   CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY i)
                        AS BIGINT) AS chunk
            FROM flagged
        ),
        chunks AS (
            SELECT doc_id, chunk,
                   CAST(SUM(h % {_SIG_MOD}) AS BIGINT) AS sig,
                   CAST(COUNT(*) AS BIGINT) AS clen
            FROM chunked GROUP BY doc_id, chunk
        ),
        agg AS (
            SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(COUNT(DISTINCT sig) AS BIGINT) AS n_sigs,
                   CAST(SUM(clen) AS BIGINT) AS n_grams
            FROM chunks
        )
        SELECT n_docs, n_chunks, n_sigs,
               CAST(floor(CAST(n_chunks - n_sigs AS DOUBLE)
                          / NULLIF(n_chunks, 0) * 1000000) AS BIGINT)
                   AS dup_chunk_ppm,
               CAST(floor(CAST(n_grams AS DOUBLE)
                          / NULLIF(n_chunks, 0) * 1000000) AS BIGINT)
                   AS mean_len_micro
        FROM agg
"""


@query("q_dedup_cdc", oracle=_CDC_ORACLE)
def q_dedup_cdc(spark, d):
    """Content-defined chunking dedup profile (module comment): the
    in-row rolling-hash array (rolling_hash_arrays — O(len) per
    doc), in-row boundary positions + per-chunk signature folds over
    disjoint ranges, a chunk-grain explode, one global 1-row agg.
    Exact integer signatures; the two closing ratios are
    identical-operand IEEE floored to ppm/micro. Values are
    bit-identical to the oracle's window-cumsum formulation — the
    boundary set and range partition are the same by construction."""
    # spread: the per-row O(len) rolling-hash/boundary/fold work ran in
    # ONE scan task on the 1-row-group fixture (r18 spread batch 5:
    # 2.31 -> 0.64 s steady; no-op on production layouts)
    docs = load(spark, d, "documents", spread=True)
    hs = rolling_hash_arrays(docs)
    # hs is referenced 3x here (size + two element_at sites), so
    # CollapseProject keeps the O(len) transform materialized per row
    # instead of inlining it into the filter lambda (the winnow note)
    bounds = hs.select(
        "doc_id",
        "hs",
        F.expr(
            f"filter(sequence(1, size(hs)), i -> i = 1"
            f" OR element_at(hs, i) % {_CDC_MOD} = 0)"
        ).alias("bpos"),
    )
    # per-chunk struct: fold the signature over [bpos[j], next-1] —
    # ranges partition the gram array, so total fold work is O(len)
    chunk_expr = (
        "transform(sequence(1, size(bpos)), j -> named_struct("
        "'sig', aggregate(sequence(element_at(bpos, j),"
        " if(j < size(bpos), element_at(bpos, j + 1) - 1, size(hs))),"
        f" 0L, (acc, k) -> acc + element_at(hs, k) % {_SIG_MOD}),"
        "'clen', cast(if(j < size(bpos), element_at(bpos, j + 1),"
        " size(hs) + 1) - element_at(bpos, j) as bigint)))"
    )
    chunks = bounds.select(
        "doc_id", F.explode(F.expr(chunk_expr)).alias("ch")
    ).select("doc_id", "ch.sig", "ch.clen")
    agg = chunks.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("sig").alias("n_sigs"),
        F.sum("clen").alias("n_grams"),
    )
    return agg.selectExpr(
        "n_docs",
        "n_chunks",
        "n_sigs",
        "cast(floor(cast(n_chunks - n_sigs as double)"
        " / nullif(n_chunks, 0) * 1000000) as bigint)"
        " AS dup_chunk_ppm",
        "cast(floor(cast(n_grams as double)"
        " / nullif(n_chunks, 0) * 1000000) as bigint)"
        " AS mean_len_micro",
    )


# --------------------------------------------------------------------------
# Murphy decomposition of the binned Brier score
# --------------------------------------------------------------------------
#
# Brier_binned = REL − RES + UNC with
#   REL = Σ_b n_b·(p̄_b − ō_b)²/N   (reliability — calibration error)
#   RES = Σ_b n_b·(ō_b − ō)²/N     (resolution — discrimination)
#   UNC = ō·(1 − ō)                 (uncertainty — base-rate entropy)
# over the SAME decile score bins as q_ml_calibration and the SAME
# bit-identical 3-step GD logistic scores as q_ml_logreg. The three
# components say WHY a Brier score is what it is — a model can be
# well-calibrated (REL≈0) yet useless (RES≈0). p̄_b rides the decimal
# policy (exact decimal sum → double), ō_b and ō are integer
# rationals, per-bin terms quantize to DECIMAL(30,10) before the
# 10-term sums, closing combination is identical IEEE → floor-q9.


_BRIER_ORACLE = f"""
    WITH {LR_BINS_CTES},
    tot AS (
      SELECT CAST(SUM(nb) AS BIGINT) AS n,
             CAST(SUM(n_pos) AS BIGINT) AS pos
      FROM bins
    ),
    terms AS (
      SELECT CAST(b.nb * (CAST(b.sp AS DOUBLE) / b.nb
                          - CAST(b.n_pos AS DOUBLE) / b.nb)
                       * (CAST(b.sp AS DOUBLE) / b.nb
                          - CAST(b.n_pos AS DOUBLE) / b.nb)
                  AS DECIMAL(30,10)) AS rel_t,
             CAST(b.nb * (CAST(b.n_pos AS DOUBLE) / b.nb
                          - CAST(t.pos AS DOUBLE) / t.n)
                       * (CAST(b.n_pos AS DOUBLE) / b.nb
                          - CAST(t.pos AS DOUBLE) / t.n)
                  AS DECIMAL(30,10)) AS res_t
      FROM bins b CROSS JOIN tot t
    ),
    comps AS (
      SELECT CAST(SUM(rel_t) AS DOUBLE) AS rel,
             CAST(SUM(res_t) AS DOUBLE) AS res
      FROM terms
    )
    SELECT t.n, t.pos,
           CAST(floor(CAST(t.pos AS DOUBLE) / t.n * 1000000)
                AS BIGINT) AS base_rate_ppm,
           CAST(floor(c.rel / t.n * 1000000000) AS BIGINT)
               AS reliability_q9,
           CAST(floor(c.res / t.n * 1000000000) AS BIGINT)
               AS resolution_q9,
           CAST(floor(CAST(t.pos AS DOUBLE) / t.n
                      * (1.0e0 - CAST(t.pos AS DOUBLE) / t.n)
                      * 1000000000) AS BIGINT) AS uncertainty_q9,
           CAST(floor((c.rel / t.n - c.res / t.n
                       + CAST(t.pos AS DOUBLE) / t.n
                         * (1.0e0 - CAST(t.pos AS DOUBLE) / t.n))
                      * 1000000000) AS BIGINT) AS brier_q9
    FROM comps c CROSS JOIN tot t
    """


@query("q_ml_brier_decomp", oracle=_BRIER_ORACLE)
def q_ml_brier_decomp(spark, d):
    """Murphy decomposition of the binned Brier score (module
    comment): reuses q_ml_logreg's bit-identical 3-step GD weights
    and the q_ml_calibration decile bins (fits.lr_decile_bins; the
    oracle replays the unrolled decimal-GD steps), decimal-quantized per-bin terms,
    identical-IEEE closing combination floored to q9.

    Shape: one broadcast-scored corpus scan into a combinable 10-bin
    agg; everything downstream is 10-row/1-row (ONE_ROW_BROADCAST
    exemption class)."""
    # three downstream branches (tot, terms, and the closing select)
    # each re-evaluate bins' lineage — and every evaluation re-runs
    # the 3-step GD fit plus the scored scan (measured 12.8 s vs
    # q_ml_calibration's 1.8 s for the same fit). Materialize the
    # ≤10-row bin relation once; a bounded localCheckpoint is the
    # sanctioned escape (q_graph_jaccard_nbrs precedent).
    bins = lr_decile_bins(spark, d).localCheckpoint()
    tot = bins.agg(
        F.sum("nb").alias("n"), F.sum("n_pos").alias("pos")
    )
    pbar = F.col("sp").cast("double") / F.col("nb")
    obar_b = F.col("n_pos").cast("double") / F.col("nb")
    obar = F.col("pos").cast("double") / F.col("n")
    terms = bins.crossJoin(F.broadcast(tot)).select(
        (F.col("nb") * (pbar - obar_b) * (pbar - obar_b))
        .cast(DEC)
        .alias("rel_t"),
        (F.col("nb") * (obar_b - obar) * (obar_b - obar))
        .cast(DEC)
        .alias("res_t"),
    )
    comps = terms.agg(
        F.sum("rel_t").cast("double").alias("rel"),
        F.sum("res_t").cast("double").alias("res"),
    )
    return comps.crossJoin(F.broadcast(tot)).selectExpr(
        "n",
        "pos",
        "cast(floor(cast(pos as double) / n * 1000000) as bigint)"
        " AS base_rate_ppm",
        "cast(floor(rel / n * 1000000000) as bigint) AS reliability_q9",
        "cast(floor(res / n * 1000000000) as bigint) AS resolution_q9",
        "cast(floor(cast(pos as double) / n"
        " * (1.0d - cast(pos as double) / n) * 1000000000) as bigint)"
        " AS uncertainty_q9",
        "cast(floor((rel / n - res / n + cast(pos as double) / n"
        " * (1.0d - cast(pos as double) / n)) * 1000000000) as bigint)"
        " AS brier_q9",
    )


# --------------------------------------------------------------------------
# Per-dimension entropy of quantized embedding values
# --------------------------------------------------------------------------
#
# Shannon entropy of each dimension's value distribution over a fixed
# 8-bin grid on [−1, 1) (bin = clamp(⌊(v+1)·4⌋, 0, 7)): a dimension
# whose mass collapses into one bin carries ~0 bits and is a
# candidate for pruning/whitening — the axis-local screen next to
# q_emb_dimstats (moments) and q_emb_isotropy (global spectrum).
# H = ln(n) − Σ c·ln(c)/n keeps ln on exact-integer arguments only;
# per-bin c·ln(c) terms quantize to DECIMAL(30,10) before the ≤8-term
# sum (the q_text_entropy posture). float→double widening of the
# embedding values is exact on both engines, so the bin floors see
# identical doubles.

_DIM_ENTROPY_ORACLE = """
    WITH idx AS (
      SELECT embedding AS e,
             unnest(generate_series(1, len(embedding))) AS dim
      FROM embeddings
    ),
    binned AS (
      SELECT CAST(dim AS BIGINT) AS dim,
             least(greatest(
               CAST(floor((CAST(e[dim] AS DOUBLE) + 1.0e0) * 4)
                    AS BIGINT), 0), 7) AS bin
      FROM idx
    ),
    cells AS (
      SELECT dim, bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY dim, bin
    ),
    per_dim AS (
      SELECT dim,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(MAX(c) AS BIGINT) AS maxc,
             SUM(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(30,10)))
                 AS slc
      FROM cells GROUP BY dim
    )
    SELECT dim, n,
           CAST(floor((ln(CAST(n AS DOUBLE))
                       - CAST(slc AS DOUBLE) / n) * 1000000)
                AS BIGINT) AS entropy_micro,
           CAST(floor(CAST(maxc AS DOUBLE) / n * 1000000) AS BIGINT)
               AS top_bin_ppm
    FROM per_dim
    ORDER BY dim
"""


@query("q_emb_dim_entropy", oracle=_DIM_ENTROPY_ORACLE)
def q_emb_dim_entropy(spark, d):
    """Per-dimension 8-bin entropy profile (module comment): one
    posexplode into a (dim, bin) combinable agg — the only data-sized
    shuffle — then a dim-grain collapse; ln on exact integers,
    decimal-quantized bin terms, floor-micro/ppm outputs."""
    emb = load(spark, d, "embeddings")
    idx = emb.select(F.posexplode("embedding").alias("dim0", "v"))
    binned = idx.select(
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.least(
            F.greatest(
                F.floor((F.col("v").cast("double") + 1.0) * 4),
                F.lit(0),
            ),
            F.lit(7),
        )
        .cast("long")
        .alias("bin"),
    )
    cells = binned.groupBy("dim", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_dim = cells.groupBy("dim").agg(
        F.sum("c").alias("n"),
        F.max("c").alias("maxc"),
        F.sum(
            (F.col("c") * F.log(F.col("c").cast("double"))).cast(DEC)
        ).alias("slc"),
    )
    return per_dim.selectExpr(
        "dim",
        "n",
        "cast(floor((ln(cast(n as double)) - cast(slc as double) / n)"
        " * 1000000) as bigint) AS entropy_micro",
        "cast(floor(cast(maxc as double) / n * 1000000) as bigint)"
        " AS top_bin_ppm",
    ).orderBy("dim")
