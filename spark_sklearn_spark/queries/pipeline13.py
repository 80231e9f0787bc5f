"""Round-8 continuation batch B: engagement metrics, format parity,
embedding DQ, deterministic distinct sketches, divergence matrices,
graph traversal, and retrieval evaluation.

New keys (SURVEY.md §2B):
- q_behavior_stickiness — weekly DAU/WAU engagement ratio
- q_fn_datetime_format  — strftime/date_format parity row of the fn matrix
- q_emb_norm_audit      — embedding norm/degeneracy DQ pass
- q_sketch_kmv          — k-minimum-values distinct sketch + set-op estimates
- q_text_jsd_pairwise   — pairwise Jensen–Shannon divergence between sources
- q_graph_bfs           — unrolled frontier BFS depths on the near-dup graph
- q_ml_ndcg             — NDCG@10 of the Hamming retrieval tier

All declared. Outputs follow the r8 policy: BIGINT micro/ppm
quantities, decimal-quantized log terms, every DuckDB SUM(integer)
cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import h56
from .behavior import DAY_IDX_SQL, day_idx
from .bigrams import NEAR_DUP_SYM_CTES, near_dup_edges, near_dup_sym

# --------------------------------------------------------------------------
# Weekly stickiness (DAU/WAU)
# --------------------------------------------------------------------------
#
# The engagement ratio product teams track: average daily distinct
# actives over weekly distinct actives. Two distinct-agg passes over
# one scan's projection, both keyed by calendar buckets; the ratio is
# integer ppm (sum_dau * 1e6 div (days*wau)) — no doubles anywhere.
# ISO weeks via the epoch-day formula ((day_epoch_days + 3) div 7):
# day 0 (1970-01-01) was a Thursday, so +3 aligns the week boundary
# to Monday — engine-independent, no year-boundary ISO edge cases.

_STICKINESS_ORACLE = f"""
    WITH days AS (
      SELECT DISTINCT
             {DAY_IDX_SQL} AS dday,
             user_id
      FROM events
    ),
    daily AS (
      SELECT dday, (dday + 3) // 7 AS week,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM days GROUP BY dday
    ),
    weekly AS (
      SELECT (dday + 3) // 7 AS week,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM days GROUP BY week
    ),
    rolled AS (
      SELECT d.week,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(d.dau) AS BIGINT) AS sum_dau,
             MAX(w.wau) AS wau
      FROM daily d JOIN weekly w ON w.week = d.week
      GROUP BY d.week
    )
    SELECT week, n_days, sum_dau, wau,
           (sum_dau * 1000000) // (n_days * wau) AS stickiness_ppm
    FROM rolled
    ORDER BY week
"""


@query("q_behavior_stickiness", oracle=_STICKINESS_ORACLE)
def q_behavior_stickiness(spark, d):
    """Weekly DAU/WAU stickiness (module comment). The (day, user)
    distinct projection is the only corpus-sized stage; both distinct
    aggs and the join run on calendar-bounded relations. Integer ppm
    output — zero float surface."""
    ev = load(spark, d, "events")
    days = ev.select(day_idx().alias("dday"), "user_id").distinct()
    daily = days.groupBy("dday").agg(
        F.countDistinct("user_id").alias("dau")
    ).withColumn("week", F.expr("(dday + 3) div 7"))
    weekly = days.withColumn("week", F.expr("(dday + 3) div 7")).groupBy(
        "week"
    ).agg(F.countDistinct("user_id").alias("wau"))
    rolled = (
        daily.join(weekly, "week")
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("dau").alias("sum_dau"),
            F.max("wau").alias("wau"),
        )
    )
    return rolled.selectExpr(
        "week",
        "n_days",
        "sum_dau",
        "wau",
        "(sum_dau * 1000000L) div (n_days * wau) AS stickiness_ppm",
    ).orderBy("week")


# --------------------------------------------------------------------------
# Datetime formatting parity
# --------------------------------------------------------------------------
#
# The fn-matrix row for date_format/strftime: formatted strings are
# both GROUP BY keys and aggregated values, so any divergence in
# padding, field width, or day-of-year math breaks the hash. Patterns
# are restricted to the locale-independent numeric subset
# (yyyy-MM-dd ≡ %Y-%m-%d, HH:mm:ss ≡ %H:%M:%S, DDD ≡ %j) — day/month
# NAMES are locale-defined on the JVM and deliberately excluded.

_DTFMT_ORACLE = """
    SELECT strftime(ts, '%Y-%m-%d') AS day_str,
           strftime(min(ts), '%H:%M:%S') AS first_hms,
           strftime(max(ts), '%H:%M:%S') AS last_hms,
           strftime(min(ts), '%j') AS doy_str,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY day_str
    ORDER BY day_str
"""


@query("q_fn_datetime_format", oracle=_DTFMT_ORACLE)
def q_fn_datetime_format(spark, d):
    """date_format parity over the numeric strftime subset (module
    comment). One hash agg keyed by the formatted day string; min/max
    timestamps format after aggregation, so the format function runs
    on a calendar-bounded relation."""
    ev = load(spark, d, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day_str"))
        .agg(
            F.date_format(F.min("ts"), "HH:mm:ss").alias("first_hms"),
            F.date_format(F.max("ts"), "HH:mm:ss").alias("last_hms"),
            F.date_format(F.min("ts"), "DDD").alias("doy_str"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("day_str")
    )


# --------------------------------------------------------------------------
# Embedding norm / degeneracy audit
# --------------------------------------------------------------------------
#
# The vector-column DQ pass an embedding pipeline runs before
# indexing: per label, how many vectors are zero / near-zero /
# extreme-norm, and the norm distribution's integer moments. Norms
# are EXACT integer folds over micro-quantized components (the
# q_sim_ann_grid idiom — floor(x*1e6) BIGINT, squares summed in
# int64), so both engines agree bit-for-bit with no float fold.

_NORM_Q = 1_000_000

_NORM_AUDIT_ORACLE = f"""
    WITH norms AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             CAST(list_sum(list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * {_NORM_Q})
                      AS BIGINT)
                      * CAST(floor(CAST(x AS DOUBLE) * {_NORM_Q})
                        AS BIGINT))) AS BIGINT) AS sq
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
           CAST(MIN(sq) AS BIGINT) AS min_sq,
           CAST(MAX(sq) AS BIGINT) AS max_sq,
           CAST(SUM(sq) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
               AS mean_sq
    FROM norms
    GROUP BY label
    ORDER BY label
"""


@query("q_emb_norm_audit", oracle=_NORM_AUDIT_ORACLE)
def q_emb_norm_audit(spark, d):
    """Per-label embedding norm audit on exact integer-quantized
    squared norms (module comment). ONE fused O(d) fold per row (no
    posexplode), one label-keyed hash agg — the 100 TB cost is the
    vector scan."""
    emb = load(spark, d, "embeddings")
    norms = emb.select(
        F.col("label").cast("long").alias("label"),
        F.expr(
            "aggregate(embedding, 0L, (acc, x) ->"
            f" acc + cast(floor(cast(x as double) * {_NORM_Q}) as bigint)"
            f" * cast(floor(cast(x as double) * {_NORM_Q}) as bigint))"
        ).alias("sq"),
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.when(F.col("sq") == 0, 1).otherwise(0)).alias(
                "n_zero"
            ),
            F.min("sq").alias("min_sq"),
            F.max("sq").alias("max_sq"),
            F.expr("sum(sq) div count(1)").alias("mean_sq"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch
# --------------------------------------------------------------------------
#
# The deterministic distinct sketch the probabilistic family (HLL)
# can't hash-check: keep the K smallest distinct 56-bit hashes per
# set; estimate = (K-1)*2^56 / theta_K. Given the portable md5-head
# hash, the kept set — and therefore the estimate — is bit-identical
# on both engines, so the SKETCH ITSELF is declared, not just its
# error bound. Sets are the event types plus the click/purchase
# union and intersection memberships, so the output table also
# demonstrates set-operation estimation (inclusion–exclusion:
# est_a + est_b − est_union) against exact truth per row. The ranked
# window runs per set over the DISTINCT-hash relation (the
# q_emb_outliers label-partitioned top-k posture); 63*2^56 stays
# inside int64.

_KMV_K = 64

_KMV_ORACLE = f"""
    WITH mem AS (
      SELECT event_type AS set_name, user_id FROM events
      UNION ALL
      SELECT 'click|purchase', user_id FROM events
      WHERE event_type IN ('click', 'purchase')
      UNION ALL
      SELECT 'click&purchase', user_id FROM events e
      WHERE event_type = 'click'
        AND EXISTS (SELECT 1 FROM events p
                    WHERE p.user_id = e.user_id
                      AND p.event_type = 'purchase')
    ),
    hashes AS (
      SELECT DISTINCT set_name,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))
              ::BIGINT) AS h
      FROM mem
    ),
    ranked AS (
      SELECT set_name, h,
             ROW_NUMBER() OVER (PARTITION BY set_name ORDER BY h)
                 AS rnk
      FROM hashes
    ),
    sk AS (
      SELECT set_name,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             MAX(h) AS theta
      FROM ranked WHERE rnk <= {_KMV_K}
      GROUP BY set_name
    ),
    exact AS (
      SELECT set_name,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM mem GROUP BY set_name
    )
    SELECT e.set_name, e.n_exact,
           CASE WHEN s.n_kept < {_KMV_K} THEN s.n_kept
                ELSE (({_KMV_K} - 1) * (1::BIGINT << 56)) // s.theta
           END AS kmv_est,
           ((CASE WHEN s.n_kept < {_KMV_K} THEN s.n_kept
                  ELSE (({_KMV_K} - 1) * (1::BIGINT << 56)) // s.theta
             END - e.n_exact) * 1000000) // e.n_exact AS err_ppm
    FROM exact e JOIN sk s ON s.set_name = e.set_name
    ORDER BY e.set_name
"""


@query("q_sketch_kmv", oracle=_KMV_ORACLE)
def q_sketch_kmv(spark, d):
    """KMV distinct sketch per behavioral set with exact truth and
    signed error (module comment for the determinism argument). The
    membership union is three predicates over one scan (the
    intersection via a semi join); everything past the distinct-hash
    agg is K rows per set."""
    ev = load(spark, d, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchasers = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    mem = (
        ev.select(F.col("event_type").alias("set_name"), "user_id")
        .unionByName(
            ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(
                F.lit("click|purchase").alias("set_name"), "user_id"
            )
        )
        .unionByName(
            clicks.join(purchasers, "user_id", "semi").select(
                F.lit("click&purchase").alias("set_name"), "user_id"
            )
        )
    )
    hashes = mem.select(
        "set_name",
        h56("cast(user_id as string)").alias("h"),
    ).distinct()
    ranked = hashes.select(
        "set_name",
        "h",
        F.expr(
            "row_number() OVER (PARTITION BY set_name ORDER BY h)"
        ).alias("rnk"),
    ).filter(F.col("rnk") <= _KMV_K)
    sk = ranked.groupBy("set_name").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("theta")
    )
    exact = mem.groupBy("set_name").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = (
        f"CASE WHEN n_kept < {_KMV_K} THEN n_kept"
        f" ELSE (({_KMV_K} - 1) * shiftleft(1L, 56)) div theta END"
    )
    return (
        exact.join(sk, "set_name")
        .selectExpr(
            "set_name",
            "n_exact",
            f"{est} AS kmv_est",
            f"(({est} - n_exact) * 1000000L) div n_exact AS err_ppm",
        )
        .orderBy("set_name")
    )


# --------------------------------------------------------------------------
# Pairwise Jensen–Shannon divergence between sources
# --------------------------------------------------------------------------
#
# The symmetric, bounded cousin of q_text_kl_source: JSD between
# every PAIR of sources' word distributions — the drift MATRIX a
# corpus dashboard shows. Decomposition keeps it join-efficient:
# over shared words, terms 0.5p·ln(2p/(p+q)) + 0.5q·ln(2q/(p+q));
# words private to either side contribute exactly 0.5·ln2 times the
# private mass, recovered from the shared-mass totals — so the ONLY
# join is the vocabulary-keyed intersection join, and no outer join
# or word-level union is ever materialized. Every ln term quantizes
# to DECIMAL(30,10) pre-sum (the KL/perplexity construction).

_JSD_ORACLE = """
    WITH words AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    src_counts AS (
      SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
    ),
    src_totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM src_counts
      GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
      FROM src_counts a
      JOIN src_counts b ON b.w = a.w AND a.source < b.source
      JOIN src_totals ta ON ta.source = a.source
      JOIN src_totals tb ON tb.source = b.source
    ),
    terms AS (
      SELECT src_a, src_b,
             CAST(0.5 * (ca / (1.0 * na))
                  * ln(2.0 * (ca / (1.0 * na))
                       / ((ca / (1.0 * na)) + (cb / (1.0 * nb))))
                  + 0.5 * (cb / (1.0 * nb))
                  * ln(2.0 * (cb / (1.0 * nb))
                       / ((ca / (1.0 * na)) + (cb / (1.0 * nb))))
                  AS DECIMAL(30,10)) AS term,
             CAST(CAST(ca AS DECIMAL(30,10)) / na AS DECIMAL(30,10))
                 AS pa,
             CAST(CAST(cb AS DECIMAL(30,10)) / nb AS DECIMAL(30,10))
                 AS pb
      FROM inter
    ),
    folded AS (
      SELECT src_a, src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common_words,
             CAST(SUM(term) AS DOUBLE) AS shared,
             CAST(SUM(pa) AS DOUBLE) AS mass_a,
             CAST(SUM(pb) AS DOUBLE) AS mass_b
      FROM terms GROUP BY src_a, src_b
    )
    SELECT src_a, src_b, n_common_words,
           CAST(floor((shared
                       + 0.5 * ln(2.0) * ((1.0 - mass_a)
                                          + (1.0 - mass_b)))
                      * 1000000.0) AS BIGINT) AS jsd_micro
    FROM folded
    ORDER BY src_a, src_b
"""


@query("q_text_jsd_pairwise", oracle=_JSD_ORACLE)
def q_text_jsd_pairwise(spark, d):
    """Pairwise JSD matrix between source word distributions (module
    comment for the private-mass decomposition). One token explode,
    one (source, word) agg, a vocabulary-keyed pair join bounded by
    |sources|² per word, one pair-keyed fold — the drift matrix costs
    one corpus scan at any size."""
    docs = load(spark, d, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    src_counts = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    src_totals = src_counts.groupBy("source").agg(
        F.sum("c").alias("n")
    )
    a = src_counts.alias("a")
    b = src_counts.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.w") == F.col("a.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .join(
            F.broadcast(src_totals.selectExpr(
                "source AS sa", "n AS na")),
            F.col("a.source") == F.col("sa"),
        )
        .join(
            F.broadcast(src_totals.selectExpr(
                "source AS sb", "n AS nb")),
            F.col("b.source") == F.col("sb"),
        )
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.col("a.c").alias("ca"),
            F.col("b.c").alias("cb"),
            "na",
            "nb",
        )
    )
    terms = inter.selectExpr(
        "src_a",
        "src_b",
        "cast(0.5d * (ca / (1.0d * na))"
        " * ln(2.0d * (ca / (1.0d * na))"
        " / ((ca / (1.0d * na)) + (cb / (1.0d * nb))))"
        " + 0.5d * (cb / (1.0d * nb))"
        " * ln(2.0d * (cb / (1.0d * nb))"
        " / ((ca / (1.0d * na)) + (cb / (1.0d * nb))))"
        " as decimal(30,10)) AS term",
        "cast(cast(ca as decimal(30,10)) / na as decimal(30,10)) AS pa",
        "cast(cast(cb as decimal(30,10)) / nb as decimal(30,10)) AS pb",
    )
    folded = terms.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_common_words"),
        F.sum("term").cast("double").alias("shared"),
        F.sum("pa").cast("double").alias("mass_a"),
        F.sum("pb").cast("double").alias("mass_b"),
    )
    return folded.selectExpr(
        "src_a",
        "src_b",
        "n_common_words",
        "cast(floor((shared + 0.5d * ln(2.0d)"
        " * ((1.0d - mass_a) + (1.0d - mass_b)))"
        " * 1000000.0d) as bigint) AS jsd_micro",
    ).orderBy("src_a", "src_b")


# --------------------------------------------------------------------------
# Unrolled frontier BFS on the near-dup graph
# --------------------------------------------------------------------------
#
# The traversal primitive between degree (1 hop) and components (full
# closure): breadth-first depths from a deterministic seed (the
# minimum node id), three unrolled rounds — the bounded-iteration
# shape production BFS uses (Pregel supersteps with a round cap).
# Each round is one equi-join of the current frontier against the
# symmetric edge list + an anti join against the visited set, both
# snapshot-sized; rides the memoized near_dup_edges snapshot. The
# oracle MATERIALIZEs every round CTE (the kcore lesson: inlining
# re-runs the quadratic shingle join per reference).

BFS_ROUNDS = 3


def _bfs_oracle() -> str:
    ctes = [
        "f0 AS MATERIALIZED (SELECT MIN(doc_a) AS doc_id FROM edges0)",
        "v0 AS MATERIALIZED (SELECT doc_id FROM f0)",
    ]
    for r in range(1, BFS_ROUNDS + 1):
        ctes.append(f"""f{r} AS MATERIALIZED (
          SELECT DISTINCT s.dst AS doc_id
          FROM f{r - 1} f JOIN sym s ON s.src = f.doc_id
          WHERE s.dst NOT IN (SELECT doc_id FROM v{r - 1})
        )""")
        ctes.append(f"""v{r} AS MATERIALIZED (
          SELECT doc_id FROM v{r - 1}
          UNION ALL SELECT doc_id FROM f{r}
        )""")
    rows = " UNION ALL ".join(
        f"""SELECT {r} AS depth,
               (SELECT COUNT(*) FROM f{r}) AS n_nodes,
               (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
                FROM f{r}) AS sum_nodes"""
        for r in range(0, BFS_ROUNDS + 1)
    )
    return f"""
        WITH {NEAR_DUP_SYM_CTES},
        {", ".join(ctes)}
        SELECT * FROM ({rows})
        ORDER BY depth
    """


@query("q_graph_bfs", oracle=_bfs_oracle())
def q_graph_bfs(spark, d):
    """BFS depth layers from the minimum-id node of the near-dup
    graph, three unrolled rounds (module comment): per depth the
    frontier size and an exact id-sum checksum pinning WHICH nodes
    sit at that distance. localCheckpoint cuts lineage per round
    (the kcore posture — later rounds and stats rows re-read each
    frontier)."""
    edges = near_dup_edges(spark, d).select("doc_a", "doc_b")
    sym = near_dup_sym(spark, d).localCheckpoint()
    frontier = (
        edges.agg(F.min("doc_a").alias("doc_id")).localCheckpoint()
    )
    visited = frontier
    rows = [
        frontier.agg(
            F.lit(0).alias("depth"),
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.sum("doc_id"), F.lit(0).cast("long")).alias(
                "sum_nodes"
            ),
        )
    ]
    for r in range(1, BFS_ROUNDS + 1):
        frontier = (
            sym.join(
                frontier.withColumnRenamed("doc_id", "src"), "src"
            )
            .select(F.col("dst").alias("doc_id"))
            .distinct()
            .join(visited, "doc_id", "anti")
            .localCheckpoint()
        )
        visited = visited.unionAll(frontier).localCheckpoint()
        rows.append(
            frontier.agg(
                F.lit(r).alias("depth"),
                F.count(F.lit(1)).alias("n_nodes"),
                F.coalesce(
                    F.sum("doc_id"), F.lit(0).cast("long")
                ).alias("sum_nodes"),
            )
        )
    out = rows[0]
    for s in rows[1:]:
        out = out.unionAll(s)
    return out.orderBy("depth")


# --------------------------------------------------------------------------
# NDCG@10 of the Hamming retrieval tier
# --------------------------------------------------------------------------
#
# The graded-ranking evaluation member next to recall@5
# (q_emb_recall_grid): NDCG@10 of the binary-signature retrieval with
# label-match relevance. Rank-discount gains quantize to BIGINT nano
# units (floor(1e9/log2(i+1)) — single identical-operand libm call
# per rank constant), DCG/IDCG are integer sums, NDCG is integer ppm
# division, and the per-label report averages in integers — the
# whole metric is hash-exact. The panel x corpus scoring reuses the
# q_emb_hamming_knn shape (fixed panel, linear in corpus).

_NDCG_K = 10

_NDCG_ORACLE = """
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
    gains AS (
      SELECT i,
             CAST(floor(1000000000.0 / (ln(i + 1.0) / ln(2.0)))
                  AS BIGINT) AS g
      FROM (SELECT unnest(generate_series(1, {K})) AS i)
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
    dcg AS (
      SELECT r.probe_id, r.p_label,
             CAST(SUM(r.rel * g.g) AS BIGINT) AS dcg_nano
      FROM ranked r JOIN gains g ON g.i = r.rnk
      WHERE r.rnk <= {K}
      GROUP BY r.probe_id, r.p_label
    ),
    idcg AS (
      SELECT d.probe_id, d.p_label, d.dcg_nano,
             CAST(SUM(g.g) AS BIGINT) AS idcg_nano
      FROM dcg d
      JOIN label_counts lc ON lc.label = d.p_label
      JOIN gains g ON g.i <= CASE WHEN lc.n_label - 1 < {K}
                                  THEN lc.n_label - 1 ELSE {K} END
      GROUP BY d.probe_id, d.p_label, d.dcg_nano
    )
    SELECT p_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM((dcg_nano * 1000000) // idcg_nano) AS BIGINT)
               // CAST(COUNT(*) AS BIGINT) AS mean_ndcg_ppm,
           CAST(SUM(CASE WHEN dcg_nano = idcg_nano THEN 1 ELSE 0 END)
                AS BIGINT) AS n_perfect
    FROM idcg
    WHERE idcg_nano > 0
    GROUP BY p_label
    ORDER BY p_label
"""


def _ndcg_oracle() -> str:
    from .pipeline7 import HAM_SIG_SQL

    return _NDCG_ORACLE.replace("{HAM_SIG}", HAM_SIG_SQL).replace(
        "{K}", str(_NDCG_K)
    )


@query("q_ml_ndcg", oracle=_ndcg_oracle())
def q_ml_ndcg(spark, d):
    """NDCG@10 of Hamming retrieval with label-match relevance,
    integer end-to-end (module comment). Panel broadcast, per-probe
    rank windows, a 10-row gains join, integer ppm normalization —
    the ranking-quality metric joins the hash-verified eval set."""
    from .pipeline7 import hamming_sig

    emb = load(spark, d, "embeddings")
    labeled = hamming_sig(emb).join(
        emb.select("vec_id", F.col("label").cast("long").alias("label")),
        "vec_id",
    )
    probes = labeled.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
        F.col("label").alias("p_label"),
    )
    label_counts = labeled.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_label")
    )
    gains = spark.range(1, _NDCG_K + 1).selectExpr(
        "cast(id as bigint) AS i",
        "cast(floor(1000000000.0d / (ln(id + 1.0d) / ln(2.0d)))"
        " as bigint) AS g",
    )
    scored = F.broadcast(probes).crossJoin(labeled).filter(
        F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        "p_label",
        F.col("label").alias("c_label"),
        (
            F.bit_count(F.col("p_lo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("p_hi").bitwiseXOR(F.col("hi")))
        ).alias("hamming"),
        F.col("vec_id").alias("nbr_id"),
    )
    ranked = scored.select(
        "probe_id",
        "p_label",
        F.when(F.col("c_label") == F.col("p_label"), 1)
        .otherwise(0)
        .alias("rel"),
        F.expr(
            "row_number() OVER (PARTITION BY probe_id"
            " ORDER BY hamming, nbr_id)"
        ).alias("rnk"),
    ).filter(F.col("rnk") <= _NDCG_K)
    dcg = (
        ranked.join(F.broadcast(gains), F.col("i") == F.col("rnk"))
        .groupBy("probe_id", "p_label")
        .agg(F.sum(F.col("rel") * F.col("g")).alias("dcg_nano"))
    )
    idcg = (
        dcg.join(
            F.broadcast(
                label_counts.selectExpr(
                    "label AS p_label",
                    f"CASE WHEN n_label - 1 < {_NDCG_K}"
                    f" THEN n_label - 1 ELSE {_NDCG_K} END AS k_eff",
                )
            ),
            "p_label",
        )
        .join(F.broadcast(gains), F.col("i") <= F.col("k_eff"))
        .groupBy("probe_id", "p_label", "dcg_nano")
        .agg(F.sum("g").alias("idcg_nano"))
    )
    return (
        idcg.filter(F.col("idcg_nano") > 0)
        .groupBy(F.col("p_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum(
                F.expr("(dcg_nano * 1000000L) div idcg_nano")
            ).alias("sum_ppm"),
            F.sum(
                F.when(F.col("dcg_nano") == F.col("idcg_nano"), 1)
                .otherwise(0)
            ).alias("n_perfect"),
        )
        .selectExpr(
            "label",
            "n_probes",
            "sum_ppm div n_probes AS mean_ndcg_ppm",
            "n_perfect",
        )
        .orderBy("label")
    )
