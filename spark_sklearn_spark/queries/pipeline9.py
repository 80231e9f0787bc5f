"""Round-8 batch: segment-level dedup, first-occurrence novelty,
table-uniqueness audit, langid confusion matrix, interval-overlap
join, dup-component size distribution, and a closed-form ridge fit.

These extend the LLM-training-pipeline surface along axes the funnel
didn't cover yet: C4/RefinedWeb-style dedup WITHIN documents (repeated
boilerplate segments, not whole-doc copies), corpus novelty decay (how
much of each source is first-seen text), the data-quality audit a
pipeline runs before trusting join keys, an eval-style confusion
rollup for the langid heuristic, the interval-overlap join family
member (range/as-of joins cover point-in-interval; this is
interval-vs-interval), the cluster-size histogram that sizes a dedup's
blast radius, and L2-regularized regression via the same
moments-then-solve shape as q_ml_linear_ols.

Every output column is BIGINT/string except ridge's micro-quantized
coefficients — per the r8 portability policy (CLAUDE.md): no HUGEINT
leaves an oracle, no raw-double ROUND outputs in new queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from .shingles import DUP_COMPONENTS_CTES, dup_components

# --------------------------------------------------------------------------
# Segment-level (paragraph) dedup ledger
# --------------------------------------------------------------------------

SEG_WORDS = 10  # words per segment; tail fragments are dropped

_SEG_ORACLE = f"""
    WITH segs AS (
      SELECT doc_id, lang,
             md5(array_to_string(
                 (string_split(text, ' '))[(i * {SEG_WORDS} + 1)
                                           :((i + 1) * {SEG_WORDS})],
                 ' ')) AS seg_key
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
                        0,
                        CAST(floor(len(string_split(text, ' '))
                                   / {SEG_WORDS}.0) AS INT) - 1)) AS i)
      WHERE len(string_split(text, ' ')) >= {SEG_WORDS}
    ),
    counts AS (
      SELECT seg_key, COUNT(*) AS c FROM segs GROUP BY seg_key
    ),
    flagged AS (
      SELECT s.doc_id, s.lang, s.seg_key, c.c
      FROM segs s JOIN counts c ON c.seg_key = s.seg_key
    )
    SELECT lang,
           COUNT(*) AS n_segments,
           COUNT(DISTINCT seg_key) AS n_unique_segments,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_segments,
           COUNT(DISTINCT CASE WHEN c > 1 THEN doc_id END)
               AS n_docs_with_dup
    FROM flagged
    GROUP BY lang
    ORDER BY lang
"""


@query("q_dedup_segments", oracle=_SEG_ORACLE)
def q_dedup_segments(spark, d):
    """Segment-level dedup ledger (the C4/RefinedWeb step BETWEEN
    whole-document dedup and n-gram decontamination): each document
    splits into fixed 10-word segments, segments hash globally, and
    the per-language report counts segments, unique segments,
    duplicated segment mass, and documents touched by any repeated
    segment — the signal that catches boilerplate paragraphs repeated
    across otherwise-distinct pages. Scale shape: one explode bounded
    by words/10, one combinable count per segment hash, one equi join
    back on the hash, one per-lang agg — all hash-partitioned on keys
    whose cardinality grows with data, never a global structure."""
    docs = load(spark, d, "documents")
    # Tokenize ONCE into a column (r17): interpreted HOFs have no CSE,
    # so a split(text) embedded in the per-segment lambda re-splits the
    # whole document for EVERY segment — O(len²)/doc (the word_grams
    # note). explode_outer keeps the pruning filter from re-evaluating
    # the transform inside the scan; values are identical (same md5
    # over the same slices).
    w = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= SEG_WORDS)
    segs = (
        w.select(
            "doc_id",
            "lang",
            F.explode_outer(
                F.expr(
                    f"transform(sequence(0, cast(floor(size(w)"
                    f" / {SEG_WORDS}.0) as int) - 1),"
                    f" i -> md5(concat_ws(' ',"
                    f" slice(w, i * {SEG_WORDS} + 1,"
                    f" {SEG_WORDS}))))"
                )
            ).alias("seg_key"),
        )
        .filter(F.col("seg_key").isNotNull())
    )
    counts = segs.groupBy("seg_key").agg(F.count(F.lit(1)).alias("c"))
    flagged = segs.join(counts, "seg_key")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.count_distinct("seg_key").alias("n_unique_segments"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias(
                "n_dup_segments"
            ),
            F.count_distinct(
                F.when(F.col("c") > 1, F.col("doc_id"))
            ).alias("n_docs_with_dup"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# First-occurrence novelty per source
# --------------------------------------------------------------------------

NOV_GRAM = 5  # words per shingle

_NOVELTY_ORACLE = f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, source,
             (('0x' || substr(md5(array_to_string(
                 (string_split(text, ' '))[i:(i + {NOV_GRAM} - 1)],
                 ' ')), 1, 14))::BIGINT) AS g
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
                        1, len(string_split(text, ' '))
                           - {NOV_GRAM} + 1)) AS i)
      WHERE len(string_split(text, ' ')) >= {NOV_GRAM}
    ),
    owners AS (
      SELECT g, arg_min(source, doc_id) AS owner_source
      FROM grams GROUP BY g
    ),
    novel AS (
      SELECT owner_source AS source, COUNT(*) AS n_novel
      FROM owners GROUP BY owner_source
    ),
    totals AS (
      SELECT source,
             COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS n_grams
      FROM grams GROUP BY source
    )
    SELECT t.source, t.n_docs, t.n_grams,
           CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
           CAST((COALESCE(n.n_novel, 0) * 1000000) // t.n_grams
                AS BIGINT) AS novelty_ppm
    FROM totals t LEFT JOIN novel n ON n.source = t.source
    ORDER BY t.source
"""


@query("q_text_novelty", oracle=_NOVELTY_ORACLE)
def q_text_novelty(spark, d):
    """Corpus novelty per source: a 5-gram is NOVEL in the document
    with the smallest doc_id containing it (ingestion order); grams
    key as 56-bit md5-head integers (half the shuffle bytes of hex
    strings, long-keyed aggs; a 56-bit collision is identical on both
    engines so the differential stays exact); each
    source reports its distinct-gram volume and the ppm of grams it
    introduced — the decay curve that tells a crawl scheduler when a
    source has stopped contributing new text. Shape: distinct
    (doc, gram) explode, then min_by attributes each gram's novelty
    credit to its owner source DURING the per-gram agg — no join back
    over the gram relation (the r8 rewrite: the join-back formulation
    cost a third data-sized shuffle, 3.1 s -> this one), leaving two
    combinable aggs and a 20-row broadcast join; novelty share is
    exact integer ppm (long div long). spread=True parallelizes the
    per-doc tokenize + gram-hash transform across cores (r17: the
    1-row-group fixture ran it in one scan task — 2.21 s → 1.11 s at
    sf0.1; no-op on splittable production inputs)."""
    docs = load(spark, d, "documents", spread=True)
    # Tokenize ONCE (r17, same fix as q_dedup_segments above): the old
    # form re-split the document inside the per-gram lambda — O(len²)
    # per doc in interpreted HOF evaluation. Same md5-head values.
    w = docs.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= NOV_GRAM)
    grams = (
        w.select(
            "doc_id",
            "source",
            F.explode_outer(
                F.expr(
                    f"transform(sequence(1, size(w)"
                    f" - {NOV_GRAM} + 1),"
                    f" i -> cast(conv(substr(md5(concat_ws(' ',"
                    f" slice(w, i, {NOV_GRAM}))),"
                    f" 1, 14), 16, 10) as bigint))"
                )
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    owners = grams.groupBy("g").agg(
        F.min_by("source", "doc_id").alias("owner_source")
    )
    novel = owners.groupBy(
        F.col("owner_source").alias("source")
    ).agg(F.count(F.lit(1)).alias("n_novel"))
    totals = grams.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    joined = totals.join(F.broadcast(novel), "source", "left")
    nn = F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
    return joined.select(
        "source",
        "n_docs",
        "n_grams",
        nn.alias("n_novel"),
        F.expr(
            "coalesce(n_novel, 0L) * 1000000L div n_grams"
        ).alias("novelty_ppm"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Key-uniqueness / null-rate audit across tables
# --------------------------------------------------------------------------

_UNIQ_ORACLE = """
    SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
           COUNT(DISTINCT c_custkey) AS n_keys,
           COUNT(*) - COUNT(DISTINCT c_custkey) AS n_dup_rows,
           COUNT(*) - COUNT(c_custkey) AS n_null_keys
    FROM customer
    UNION ALL
    SELECT 'orders', COUNT(*), COUNT(DISTINCT o_orderkey),
           COUNT(*) - COUNT(DISTINCT o_orderkey),
           COUNT(*) - COUNT(o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*),
           COUNT(DISTINCT l_orderkey * 16 + l_linenumber),
           COUNT(*) - COUNT(DISTINCT l_orderkey * 16 + l_linenumber),
           COUNT(*) - COUNT(l_orderkey)
    FROM lineitem
    UNION ALL
    SELECT 'events', COUNT(*), COUNT(DISTINCT event_id),
           COUNT(*) - COUNT(DISTINCT event_id),
           COUNT(*) - COUNT(event_id)
    FROM events
    UNION ALL
    SELECT 'documents', COUNT(*), COUNT(DISTINCT doc_id),
           COUNT(*) - COUNT(DISTINCT doc_id),
           COUNT(*) - COUNT(doc_id)
    FROM documents
    ORDER BY tbl
"""


@query("q_dq_uniqueness", oracle=_UNIQ_ORACLE)
def q_dq_uniqueness(spark, d):
    """Primary-key audit across five tables: row count, distinct-key
    count, duplicate-row count, null-key count — the gate a pipeline
    runs before trusting a column as a join key (a dup or null key
    silently fans out every downstream join). The lineitem key is the
    composite (orderkey, linenumber) packed into one BIGINT
    (linenumber < 16 in TPC-H data). Each branch is one combinable
    agg; count-distinct on a key column is the partial-aggregation
    shape that holds at any scale."""

    def audit(df, name, key_col):
        k = F.col(key_col)
        return df.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(k).alias("n_keys"),
            (F.count(F.lit(1)) - F.count_distinct(k)).alias("n_dup_rows"),
            (F.count(F.lit(1)) - F.count(k)).alias("n_null_keys"),
        )

    cust = audit(load(spark, d, "customer"), "customer", "c_custkey")
    orders = audit(load(spark, d, "orders"), "orders", "o_orderkey")
    li = load(spark, d, "lineitem").withColumn(
        "lkey", F.col("l_orderkey") * 16 + F.col("l_linenumber")
    )
    lineitem = li.agg(
        F.lit("lineitem").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("lkey").alias("n_keys"),
        (F.count(F.lit(1)) - F.count_distinct("lkey")).alias("n_dup_rows"),
        (F.count(F.lit(1)) - F.count("l_orderkey")).alias("n_null_keys"),
    )
    events = audit(load(spark, d, "events"), "events", "event_id")
    docs = audit(load(spark, d, "documents"), "documents", "doc_id")
    return (
        cust.unionAll(orders)
        .unionAll(lineitem)
        .unionAll(events)
        .unionAll(docs)
        .orderBy("tbl")
    )


# --------------------------------------------------------------------------
# Langid confusion matrix (eval rollup of q_text_langid)
# --------------------------------------------------------------------------

_CONFUSION_ORACLE = """
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text,' '),
                  w -> w IN ('the','and','of','a'))) AS INTEGER) AS s_en,
             CAST(len(list_filter(string_split(text,' '),
                  w -> w IN ('der','die','und','das'))) AS INTEGER) AS s_de,
             CAST(len(list_filter(string_split(text,' '),
                  w -> w IN ('el','la','los','que'))) AS INTEGER) AS s_es,
             CAST(len(list_filter(string_split(text,' '),
                  w -> w IN ('le','la','les','et'))) AS INTEGER) AS s_fr,
             CAST(len(list_filter(string_split(text,' '),
                  w -> w IN ('的','了','是','在'))) AS INTEGER) AS s_zh
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
                  WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
                  WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS predicted
      FROM s
    )
    SELECT lang, predicted, COUNT(*) AS n,
           CAST(SUM(CASE WHEN lang = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred
    GROUP BY lang, predicted
    ORDER BY lang, predicted
"""


@query("q_text_lang_confusion", oracle=_CONFUSION_ORACLE)
def q_text_lang_confusion(spark, d):
    """Langid eval rollup: confusion matrix of the function-word
    heuristic's prediction against the labeled language — the
    accuracy report any classifier in the curation loop publishes
    (q_text_langid emits per-document scores; this is its grouped
    eval twin, the same relationship q_ml_confusion has to
    q_ml_keyed_transform). One scan, one stateless scoring
    projection, one tiny (lang x predicted) hash agg."""
    from ..functions.text import lang_scores

    docs = load(spark, d, "documents")
    scores = lang_scores(F.col("text"))
    s = docs.select(
        "lang", *[v.alias(f"s_{k}") for k, v in scores.items()]
    )
    pred = (
        F.when(
            F.col("s_en") >= F.greatest("s_de", "s_es", "s_fr", "s_zh"),
            "en",
        )
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr", "s_zh"), "de")
        .when(F.col("s_es") >= F.greatest("s_fr", "s_zh"), "es")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return (
        s.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("lang") == F.col("predicted"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .orderBy("lang", "predicted")
    )


# --------------------------------------------------------------------------
# Interval-overlap join (interval vs interval, bucketed)
# --------------------------------------------------------------------------

OVL_MINUTES = 10  # each event spans [ts, ts + 10 min)
OVL_BUCKET_US = OVL_MINUTES * 60 * 1_000_000

_OVERLAP_ORACLE = f"""
    WITH v AS (
      SELECT user_id, event_id, epoch_us(ts) AS lo,
             epoch_us(ts) + {OVL_BUCKET_US} AS hi
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id, epoch_us(ts) AS lo,
             epoch_us(ts) + {OVL_BUCKET_US} AS hi
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
      FROM v JOIN p ON p.user_id = v.user_id
      WHERE v.lo < p.hi AND p.lo < v.hi
    )
    SELECT user_id, COUNT(*) AS n_overlaps,
           MIN(view_id) AS min_view, MAX(purchase_id) AS max_purchase
    FROM pairs
    GROUP BY user_id
    ORDER BY user_id
"""


@query("q_join_interval_overlap", oracle=_OVERLAP_ORACLE)
def q_join_interval_overlap(spark, d):
    """Interval-overlap join — the join-family member range/as-of
    don't cover: BOTH sides are intervals ([ts, ts+10min) views vs
    purchases per user) matched on intersection. The scalable plan is
    the bucket-explode equi join: each interval lands in the 10-min
    grid cells it touches (≤ 2 here since span == grid), the join
    runs on (user_id, bucket) — an EQUI key Catalyst hash-partitions
    — the true overlap predicate filters residually, and a distinct
    collapses pairs that meet in two buckets. Both sides explode
    (overlapping intervals always share a touched bucket — exploding
    only one side misses pairs whose partner STARTS a bucket earlier).
    Fan-out is interval_span/grid + 1 per row (constant), so there is
    no quadratic blow-up at 100 TB — the theta form the ORACLE uses
    would be a per-user cross join."""
    ev = load(spark, d, "events")

    def side(etype, idname):
        e = ev.filter(F.col("event_type") == etype).select(
            "user_id",
            F.col("event_id").alias(idname),
            F.unix_micros("ts").alias(f"{idname}_lo"),
            (F.unix_micros("ts") + OVL_BUCKET_US).alias(f"{idname}_hi"),
        )
        return e.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"{idname}_lo") / OVL_BUCKET_US),
                    F.floor((F.col(f"{idname}_hi") - 1) / OVL_BUCKET_US),
                )
            ),
        )

    v = side("view", "view_id")
    p = side("purchase", "purchase_id")
    pairs = (
        v.join(p, ["user_id", "bucket"])
        .filter(
            (F.col("view_id_lo") < F.col("purchase_id_hi"))
            & (F.col("purchase_id_lo") < F.col("view_id_hi"))
        )
        .select("user_id", "view_id", "purchase_id")
        .distinct()
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.min("view_id").alias("min_view"),
            F.max("purchase_id").alias("max_purchase"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Dup-component size distribution
# --------------------------------------------------------------------------


_COMPONENT_SIZES_ORACLE = f"""
    WITH RECURSIVE {DUP_COMPONENTS_CTES}, sizes AS (
      SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id
    )
    SELECT sz AS component_size,
           COUNT(*) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
           MIN(cluster_id) AS min_cluster
    FROM sizes
    GROUP BY sz
    ORDER BY sz
"""


@query("q_graph_component_sizes", oracle=_COMPONENT_SIZES_ORACLE)
def q_graph_component_sizes(spark, d):
    """Size distribution of the near-dup components: how many
    clusters of each size exist and how many documents they absorb —
    the histogram that sizes a dedup's blast radius before committing
    (a fat head of size-100 clusters means a template is eating the
    corpus). Rides the memoized dup_components snapshot; two stacked
    tiny hash aggs; declared against the shared recursive
    transitive-closure CTE."""
    comp = dup_components(spark, d)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    out = (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.col("sz") * F.count(F.lit(1))).alias("n_docs"),
            F.min("cluster_id").alias("min_cluster"),
        )
        .select(
            F.col("sz").alias("component_size"),
            "n_clusters",
            "n_docs",
            "min_cluster",
        )
        .orderBy("component_size")
    )
    return out


# --------------------------------------------------------------------------
# Ridge regression (closed form, decimal moments)
# --------------------------------------------------------------------------

RIDGE_LAMBDA = 1000.0  # L2 on the slope (centered form)

_RIDGE_ORACLE = f"""
    WITH sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)
                 AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)
                 AS sy,
             CAST(SUM(CAST(l_quantity * l_extendedprice
                           AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10)))
                  AS DOUBLE) AS sxx
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(round((n * sxy - sx * sy)
                      / (n * sxx - sx * sx + n * {RIDGE_LAMBDA!r})
                      * 1000000.0) AS BIGINT) AS slope_micro,
           CAST(round((sy - (n * sxy - sx * sy)
                            / (n * sxx - sx * sx + n * {RIDGE_LAMBDA!r})
                            * sx) / n * 1000000.0) AS BIGINT)
               AS intercept_micro
    FROM sums
    ORDER BY l_returnflag
"""


@query("q_ml_ridge", oracle=_RIDGE_ORACLE)
def q_ml_ridge(spark, d):
    """DECLARED ridge regression per group (price ~ quantity, L2 on
    the centered slope: slope = Sxy_c / (Sxx_c + n*lambda)) — the
    regularized sibling of q_ml_linear_ols, proving the
    moments-then-solve mirroring extends to penalized fits. Same
    scale shape: ONE combinable hash agg of exact decimal moments per
    group, then a stateless per-group O(1) solve; coefficients are
    micro-quantized BIGINT per the r8 policy (new queries emit no
    raw-double ROUND outputs)."""
    # shared memoized moment scan (ml.li_ols_moments) — same decimal
    # sums, so the solve below is value-identical to the inline agg
    from .ml import li_ols_moments

    sums = li_ols_moments(spark, d)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (n * sxy - sx * sy) / (
        n * sxx - sx * sx + n * F.lit(RIDGE_LAMBDA)
    )
    return sums.select(
        "l_returnflag",
        "n",
        F.round(slope * 1000000.0, 0).cast("long").alias("slope_micro"),
        F.round((sy - slope * sx) / n * 1000000.0, 0)
        .cast("long")
        .alias("intercept_micro"),
    ).orderBy("l_returnflag")
