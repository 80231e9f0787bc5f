"""Round-7 batch: dataset-curation and data-quality operators —
referential-integrity audit, schema-evolution reads, deterministic
weighted sampling (Efraimidis–Spirakis), and robust MAD outlier
detection.

These are the checks and transforms a training-data pipeline runs on
every ingest batch: FK orphan counts catch partial loads, the
mergeSchema read is how a lake survives column additions without a
migration, weighted sampling implements quality-weighted corpus
selection, and MAD is the robust outlier gate that survives the very
outliers a stddev gate is wrecked by.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, warehouse_path
from ._helpers import DEC, TWO56, h56
from .behavior import DAY_COUNTS_CTE, DAY_IDX_SQL, day_counts, day_idx

# --------------------------------------------------------------------------
# Referential-integrity audit (FK orphan counts)
# --------------------------------------------------------------------------

_ORPHANS_ORACLE = """
    SELECT 'customer->nation' AS fk_edge,
           (SELECT COUNT(*) FROM customer) AS n_child,
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
               AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    ORDER BY fk_edge
"""


@query("q_dq_orphans", oracle=_ORPHANS_ORACLE)
def q_dq_orphans(spark, d):
    """Referential-integrity audit: orphan counts for every FK edge
    of the star schema in one result (a partial load shows up as
    n_orphans > 0 before any downstream join silently drops rows).
    ONE scan per child table: lineitem left-joins its three parents'
    key sets in a single plan and the agg emits all three orphan
    counts at once (stacked to rows afterwards) — measured 7.6 s ->
    ~2 s at sf0.1 vs the join-per-edge form. Parent key sets are
    deduped before the join; the genuinely small ones broadcast, the
    SF-scaled ones are left to AQE (hinting orders/customer broadcast
    would be wrong at 100 TB)."""
    cust = load(spark, d, "customer")
    nation = load(spark, d, "nation")
    li = load(spark, d, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = load(spark, d, "orders").select("o_orderkey", "o_custkey")
    okeys = orders.select("o_orderkey").distinct()
    pkeys = load(spark, d, "part").select("p_partkey").distinct()
    skeys = load(spark, d, "supplier").select("s_suppkey").distinct()
    ckeys = cust.select("c_custkey").distinct()
    nkeys = nation.select("n_nationkey").distinct()

    li_audit = (
        li.join(okeys, li.l_orderkey == okeys.o_orderkey, "left")
        .join(pkeys, li.l_partkey == pkeys.p_partkey, "left")
        .join(skeys, li.l_suppkey == skeys.s_suppkey, "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .alias("orph_orders"),
            F.sum(F.when(F.col("p_partkey").isNull(), 1).otherwise(0))
            .alias("orph_part"),
            F.sum(F.when(F.col("s_suppkey").isNull(), 1).otherwise(0))
            .alias("orph_supp"),
        )
        .selectExpr(
            "stack(3,"
            " 'lineitem->orders', n_child, orph_orders,"
            " 'lineitem->part', n_child, orph_part,"
            " 'lineitem->supplier', n_child, orph_supp)"
            " AS (fk_edge, n_child, n_orphans)"
        )
    )
    orders_audit = (
        orders.join(ckeys, orders.o_custkey == ckeys.c_custkey, "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .alias("n_orphans"),
        )
        .select(
            F.lit("orders->customer").alias("fk_edge"),
            "n_child",
            "n_orphans",
        )
    )
    cust_audit = (
        cust.join(
            F.broadcast(nkeys),
            cust.c_nationkey == nkeys.n_nationkey,
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("n_nationkey").isNull(), 1).otherwise(0))
            .alias("n_orphans"),
        )
        .select(
            F.lit("customer->nation").alias("fk_edge"),
            "n_child",
            "n_orphans",
        )
    )
    return (
        li_audit.unionAll(orders_audit).unionAll(cust_audit)
        .orderBy("fk_edge")
    )


# --------------------------------------------------------------------------
# Schema evolution (mergeSchema read over mixed-vintage files)
# --------------------------------------------------------------------------


@query(
    "q_source_schema_evolution",
    oracle="""
        WITH unioned AS (
          SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
          FROM orders WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderkey, o_totalprice, o_orderpriority
          FROM orders WHERE o_orderkey % 2 = 1
        )
        SELECT COALESCE(o_orderpriority, '<pre-schema>') AS priority,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                          AS DOUBLE), 2) AS sum_price
        FROM unioned
        GROUP BY priority
        ORDER BY priority
    """,
)
def q_source_schema_evolution(spark, d):
    """Schema evolution: two parquet batches of different vintages —
    v1 written BEFORE the o_orderpriority column existed, v2 after —
    read together with mergeSchema=true, which unions the schemas and
    null-fills the missing column in old files (the lake pattern for
    surviving column additions without rewriting history). The oracle
    emulates the same union-by-name with NULLs straight from the
    source table. mergeSchema costs one footer pass over the file
    set at planning time — per FILE, not per row — which is why it
    stays cheap at a million files."""
    base = warehouse_path("schema_evolution", d)
    orders = load(spark, d, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(f"{base}/batch=1")
    v2.write.mode("overwrite").parquet(f"{base}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/batch=1", f"{base}/batch=2"
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-schema>"))
            .alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast(DEC))
                .cast("double"),
                2,
            ).alias("sum_price"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis–Spirakis)
# --------------------------------------------------------------------------

WS_K = 50

_WSAMPLE_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST(floor(
               ln((( ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                     1, 14))::BIGINT) + 1) / {TWO56!r})
               / n_chars * 1000000.0) AS BIGINT) AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT {WS_K}
"""


@query("q_sample_weighted", oracle=_WSAMPLE_ORACLE)
def q_sample_weighted(spark, d):
    """Weighted sampling without replacement (Efraimidis–Spirakis):
    key = ln(u)/w with u a deterministic md5-head uniform in (0,1]
    and w = n_chars; the top-k keys ARE a w-weighted sample. This is
    the distributed-sampling construction: keys are computed in a
    stateless map and only a TakeOrdered top-k crosses the network —
    no global sort, no rejection loop, reproducible across runs and
    engines because the 'randomness' is a seeded hash of the row key
    (the same property q_sample_hash uses for uniform sampling).
    Keys quantize to BIGINT micros BEFORE ordering (a rounded double
    here once emitted -0.0 vs 0.0 across engines), doc_id
    tie-break."""
    docs = load(spark, d, "documents").filter(F.col("n_chars") > 0)
    h = h56("concat('ws:', cast(doc_id as string))")
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.floor(
            F.log((h + 1).cast("double") / F.lit(TWO56))
            / F.col("n_chars")
            * 1000000.0
        ).cast("long").alias("es_key"),
    )
    return keyed.orderBy(F.desc("es_key"), "doc_id").limit(WS_K)


# --------------------------------------------------------------------------
# MAD (median absolute deviation) outlier gate
# --------------------------------------------------------------------------


@query(
    "q_ts_outlier_mad",
    oracle="""
        WITH med AS (
          SELECT event_type,
                 ROUND(quantile_cont(value, 0.5), 6) AS med
          FROM events GROUP BY event_type
        ),
        dev AS (
          SELECT e.event_type, e.value, m.med,
                 abs(e.value - m.med) AS adev
          FROM events e JOIN med m ON e.event_type = m.event_type
        ),
        mad AS (
          SELECT event_type,
                 ROUND(quantile_cont(adev, 0.5), 6) AS mad
          FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               CAST(round(ANY_VALUE(d.med) * 1000000.0) AS BIGINT)
                   AS med_micro,
               CAST(round(ANY_VALUE(m.mad) * 1000000.0) AS BIGINT)
                   AS mad_micro,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               CAST(round(ROUND(MAX(d.adev), 6) * 1000000.0) AS BIGINT)
                   AS max_adev_micro
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        GROUP BY d.event_type
        ORDER BY d.event_type
    """,
)
def q_ts_outlier_mad(spark, d):
    """Robust outlier gate: flag |x - median| > 3 * MAD per event
    type. Unlike a z-score gate, the median/MAD cutoffs don't move
    when the outliers themselves get bigger — the robust-statistics
    property that matters when the gate is protecting a training set
    from corrupted values. Two grouped exact percentiles (each a
    bounded per-group sort) and two broadcast joins of the tiny
    per-type cutoff rows; medians rounded to 6 before the deviation
    compare so both engines gate the identical row set."""
    ev = load(spark, d, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value(F.col("med")) * 1000000.0, 0)
            .cast("long")
            .alias("med_micro"),
            F.round(F.any_value(F.col("mad")) * 1000000.0, 0)
            .cast("long")
            .alias("mad_micro"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.round(F.round(F.max("adev"), 6) * 1000000.0, 0)
            .cast("long")
            .alias("max_adev_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Training-mix assembly under a per-language token budget
# --------------------------------------------------------------------------

MIX_MIN_WORDS = 20
MIX_MIN_TTR = 0.3
MIX_BUDGET = 10_000  # tokens per language

_MIX_ORACLE = f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_words,
             ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')), 6) AS score
      FROM documents
    ),
    gated AS (
      SELECT * FROM scored
      WHERE n_words >= {MIX_MIN_WORDS} AND score >= {MIX_MIN_TTR}
    ),
    keyed AS (
      SELECT *,
             ROUND(
               ln((( ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                     1, 14))::BIGINT) + 1)
                  / 7.205759403792794e+16) / score, 6) AS es_key
      FROM gated
    ),
    ordered AS (
      SELECT *,
             SUM(n_words) OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) - n_words
                 AS cum_before
      FROM keyed
    ),
    selected AS (
      SELECT * FROM ordered WHERE cum_before < {MIX_BUDGET}
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS sum_tokens,
           ROUND(CAST(SUM(CAST(score AS DECIMAL(30,10))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_score
    FROM selected
    GROUP BY lang
    ORDER BY lang
"""


@query("q_mix_budget", oracle=_MIX_ORACLE)
def q_mix_budget(spark, d):
    """Training-mix assembly: quality-gate documents (min length +
    min type-token ratio), draw a quality-weighted Efraimidis-
    Spirakis sample order, and admit docs per language until a token
    budget fills — the gate -> weight -> sample -> cap chain a corpus
    mix job runs per source. The greedy cap is a running sum WITHIN
    the language partition (never a global single-partition window),
    so at 100 TB each language's selection is an independent
    partition-local sort + cumsum; the final report is a tiny per-
    lang agg. All scores rounded to 6 before ordering; doc_id
    tie-break."""
    from pyspark.sql import Window

    docs = load(spark, d, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_words"),
        F.round(
            F.size(F.array_distinct(F.split("text", " ")))
            / F.size(F.split("text", " ")).cast("double"),
            6,
        ).alias("score"),
    )
    gated = scored.filter(
        (F.col("n_words") >= MIX_MIN_WORDS)
        & (F.col("score") >= MIX_MIN_TTR)
    )
    h = h56("concat('mix:', cast(doc_id as string))")
    keyed = gated.withColumn(
        "es_key",
        F.round(
            F.log((h + 1).cast("double") / F.lit(TWO56))
            / F.col("score"),
            6,
        ),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("es_key"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ordered = keyed.withColumn(
        "cum_before", F.sum("n_words").over(w) - F.col("n_words")
    )
    selected = ordered.filter(F.col("cum_before") < MIX_BUDGET)
    return (
        selected.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("sum_tokens"),
            F.round(
                F.sum(F.col("score").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_score"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Seasonal baseline + residual profile
# --------------------------------------------------------------------------


@query(
    "q_ts_seasonal",
    oracle="""
        WITH base AS (
          SELECT event_type,
                 CAST(extract(hour FROM ts) AS INTEGER) AS hod,
                 value
          FROM events
        ),
        baseline AS (
          SELECT event_type, hod,
                 COUNT(*) AS n,
                 CAST(floor(CAST(SUM(CAST(value AS DECIMAL(30,10)))
                                 AS DOUBLE)
                            / COUNT(*) * 1000000) AS BIGINT)
                     AS hod_mean_micro
          FROM base GROUP BY event_type, hod
        ),
        resid AS (
          SELECT b.event_type, b.hod, bl.hod_mean_micro,
                 abs(b.value - bl.hod_mean_micro / 1000000.0) AS adev
          FROM base b
          JOIN baseline bl
            ON b.event_type = bl.event_type AND b.hod = bl.hod
        )
        SELECT event_type,
               COUNT(DISTINCT hod) AS n_hours,
               MIN(hod_mean_micro) AS min_hod_mean_micro,
               MAX(hod_mean_micro) AS max_hod_mean_micro,
               CAST(floor(CAST(SUM(CAST(adev AS DECIMAL(30,10)))
                               AS DOUBLE)
                          / COUNT(*) * 1000000) AS BIGINT)
                   AS mean_abs_resid_micro
        FROM resid
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def q_ts_seasonal(spark, d):
    """Seasonal (hour-of-day) baseline and residual profile per event
    type: the mean per (type, hour) is the seasonal expectation; the
    mean absolute residual against it says how much signal seasonality
    explains (flat hod_mean range + large residual = no daily cycle).
    The baseline is a tiny (type x 24) agg broadcast back onto the
    stream — the de-seasonalize step every monitoring pipeline runs
    before anomaly gates like q_ts_anomaly/q_ts_outlier_mad. Means on
    the decimal path; the baseline is quantized to integer micro
    (floor(x*1e6) — identical multiply+floor on both engines) BEFORE
    the residual so both engines subtract the identical expectation,
    and both declared means leave as integer micro."""
    ev = load(spark, d, "events").select(
        "event_type",
        F.hour("ts").alias("hod"),
        "value",
    )
    baseline = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(
            F.sum(F.col("value").cast(DEC)).cast("double")
            / F.count(F.lit(1))
            * 1000000
        ).alias("hod_mean_micro"),
    )
    resid = ev.join(F.broadcast(baseline), ["event_type", "hod"]).select(
        "event_type",
        "hod",
        "hod_mean_micro",
        F.abs(
            F.col("value") - F.col("hod_mean_micro") / F.lit(1000000.0)
        ).alias("adev"),
    )
    return (
        resid.groupBy("event_type")
        .agg(
            F.countDistinct("hod").alias("n_hours"),
            F.min("hod_mean_micro").alias("min_hod_mean_micro"),
            F.max("hod_mean_micro").alias("max_hod_mean_micro"),
            F.floor(
                F.sum(F.col("adev").cast(DEC)).cast("double")
                / F.count(F.lit(1))
                * 1000000
            ).alias("mean_abs_resid_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Snapshot diff (CDC audit between two table versions)
# --------------------------------------------------------------------------


@query(
    "q_cdc_snapshot_diff",
    oracle="""
        WITH snap1 AS (
          SELECT o_orderkey AS k, o_totalprice AS v
          FROM orders WHERE o_orderkey % 7 <> 0
        ),
        snap2 AS (
          SELECT o_orderkey AS k,
                 CASE WHEN o_orderkey % 11 = 0
                      THEN o_totalprice * 1.1
                      ELSE o_totalprice END AS v
          FROM orders WHERE o_orderkey % 3 <> 0
        ),
        diff AS (
          SELECT CASE
                   WHEN s1.k IS NULL THEN 'added'
                   WHEN s2.k IS NULL THEN 'removed'
                   WHEN s1.v <> s2.v THEN 'changed'
                   ELSE 'unchanged'
                 END AS status,
                 COALESCE(s2.v, s1.v) AS v
          FROM snap1 s1 FULL OUTER JOIN snap2 s2 ON s1.k = s2.k
        )
        SELECT status, COUNT(*) AS n,
               CAST(floor(CAST(SUM(CAST(v AS DECIMAL(30,10)))
                               AS DOUBLE) * 100) AS BIGINT)
                   AS sum_cents
        FROM diff
        GROUP BY status
        ORDER BY status
    """,
)
def q_cdc_snapshot_diff(spark, d):
    """Snapshot diff: classify every key across two table versions as
    added / removed / changed / unchanged via ONE full outer join —
    the audit a CDC pipeline runs to validate an incremental feed
    against a full refresh (counts per class + value mass). The two
    snapshots derive deterministically from orders (drop-by-modulus +
    a price bump), so both engines diff identical inputs; value mass
    leaves as integer cents (decimal sum -> identical double ->
    floor(x*100)). One key-partitioned shuffle join; classification
    is a stateless projection."""
    orders = load(spark, d, "orders").select("o_orderkey", "o_totalprice")
    snap1 = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("v1")
    )
    snap2 = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("v2"),
    )
    diff = snap1.join(snap2, snap1.k1 == snap2.k2, "full_outer").select(
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("v1") != F.col("v2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.col("v2"), F.col("v1")).alias("v"),
    )
    return (
        diff.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(
                F.sum(F.col("v").cast(DEC)).cast("double") * 100
            ).alias("sum_cents"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# Freshness audit
# --------------------------------------------------------------------------


@query(
    "q_dq_freshness",
    oracle="""
        WITH gmax AS (SELECT MAX(ts) AS global_max FROM events),
        per_type AS (
          SELECT event_type, MAX(ts) AS last_ts, COUNT(*) AS n
          FROM events GROUP BY event_type
        )
        SELECT p.event_type, p.n, p.last_ts,
               CAST(date_diff('second', p.last_ts, g.global_max)
                    AS BIGINT) AS lag_seconds,
               CASE WHEN date_diff('second', p.last_ts, g.global_max)
                         > 86400 THEN 1 ELSE 0 END AS is_stale
        FROM per_type p, gmax g
        ORDER BY p.event_type
    """,
)
def q_dq_freshness(spark, d):
    """Freshness audit: per-stream last-event timestamp and its lag
    behind the freshest stream, with a >1-day staleness flag — the
    ingest-monitor query that catches a dead upstream before the
    downstream joins silently produce stale features. Two tiny
    combinable max/count aggs (per type + global) and a broadcast of
    the single global row; one scan at any scale."""
    ev = load(spark, d, "events").select("event_type", "ts")
    glob = ev.agg(F.max("ts").alias("global_max"))
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n")
    )
    lag = F.unix_seconds(F.col("global_max")) - F.unix_seconds(
        F.col("last_ts")
    )
    return (
        per_type.crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            "n",
            "last_ts",
            lag.alias("lag_seconds"),
            F.when(lag > 86400, 1).otherwise(0).alias("is_stale"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Time-weighted average (TWAP)
# --------------------------------------------------------------------------


@query(
    "q_ts_twap",
    oracle="""
        WITH seq AS (
          SELECT user_id, value, ts,
                 lead(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_ts
          FROM events
        ),
        spans AS (
          SELECT user_id, value,
                 date_diff('second', ts, next_ts) AS dt
          FROM seq WHERE next_ts IS NOT NULL
        )
        SELECT user_id,
               COUNT(*) AS n_spans,
               CAST(SUM(dt) AS BIGINT) AS total_seconds,
               CAST(floor(CAST(SUM(CAST(value * dt AS DECIMAL(30,10)))
                               AS DOUBLE)
                          / SUM(dt) * 1000000) AS BIGINT) AS twap_micro
        FROM spans
        WHERE user_id % 3 = 0
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def q_ts_twap(spark, d):
    """Time-weighted average value per user: each reading holds until
    the next one, so its weight is the span length (the metric a
    point-in-time sampler gets wrong when readings are irregular —
    TWAP is how billing/utilization metrics are actually computed).
    One user-partitioned window (lead) and one agg on the same key;
    value x dt products ride the decimal-sum policy and the TWAP
    leaves as integer micro (identical double -> floor(x*1e6)). The
    %3 slice bounds the declared output; the plan is
    slice-independent."""
    ev = load(spark, d, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn(
        "dt",
        F.unix_seconds(F.lead("ts").over(w)) - F.unix_seconds(F.col("ts")),
    ).filter(F.col("dt").isNotNull())
    return (
        seq.filter(F.col("user_id") % 3 == 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("dt").alias("total_seconds"),
            F.floor(
                F.sum(
                    (F.col("value") * F.col("dt")).cast(DEC)
                ).cast("double")
                / F.sum("dt")
                * 1000000
            ).alias("twap_micro"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Growth accounting (new / retained / resurrected / churned)
# --------------------------------------------------------------------------


@query(
    "q_behavior_lifecycle",
    oracle=f"""
        WITH weeks AS (
          SELECT DISTINCT user_id,
                 CAST(floor({DAY_IDX_SQL} / 7) AS BIGINT) AS wk
          FROM events
        ),
        flagged AS (
          SELECT user_id, wk,
                 MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
                 lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                     AS prev_wk,
                 lead(wk) OVER (PARTITION BY user_id ORDER BY wk)
                     AS next_wk
          FROM weeks
        ),
        status AS (
          SELECT wk,
                 CASE WHEN wk = first_wk THEN 1 ELSE 0 END AS is_new,
                 CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END
                     AS is_retained,
                 CASE WHEN wk > first_wk
                       AND (prev_wk IS NULL OR prev_wk < wk - 1)
                      THEN 1 ELSE 0 END AS is_resurrected,
                 CASE WHEN next_wk IS DISTINCT FROM wk + 1
                      THEN 1 ELSE 0 END AS churns_after
          FROM flagged
        )
        SELECT wk,
               CAST(SUM(is_new) AS BIGINT) AS n_new,
               CAST(SUM(is_retained) AS BIGINT) AS n_retained,
               CAST(SUM(is_resurrected) AS BIGINT) AS n_resurrected,
               CAST(SUM(churns_after) AS BIGINT) AS n_churning_after,
               COUNT(*) AS n_active
        FROM status
        GROUP BY wk
        ORDER BY wk
    """,
)
def q_behavior_lifecycle(spark, d):
    """Growth accounting: classify every active (user, week) as new /
    retained / resurrected, plus how many of the week's actives churn
    after it — the standard DAU/WAU decomposition identity
    (active = new + retained + resurrected). Weeks are integer
    epoch-day/7 buckets (identical arithmetic in both engines; no ISO
    week ambiguity). One shuffle to the distinct (user, week) grain,
    three frames over the SAME user partitioning, then a tiny per-week
    rollup."""
    from pyspark.sql import Window as W

    ev = load(spark, d, "events")
    weeks = ev.select(
        "user_id",
        F.floor(day_idx() / 7).cast("long").alias("wk"),
    ).distinct()
    w_all = W.partitionBy("user_id")
    w_ord = W.partitionBy("user_id").orderBy("wk")
    flagged = weeks.select(
        "user_id",
        "wk",
        F.min("wk").over(w_all).alias("first_wk"),
        F.lag("wk").over(w_ord).alias("prev_wk"),
        F.lead("wk").over(w_ord).alias("next_wk"),
    )
    status = flagged.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0)
        .alias("is_new"),
        F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0)
        .alias("is_retained"),
        F.when(
            (F.col("wk") > F.col("first_wk"))
            & (
                F.col("prev_wk").isNull()
                | (F.col("prev_wk") < F.col("wk") - 1)
            ),
            1,
        )
        .otherwise(0)
        .alias("is_resurrected"),
        F.when(
            ~F.col("next_wk").eqNullSafe(F.col("wk") + 1), 1
        )
        .otherwise(0)
        .alias("churns_after"),
    )
    return (
        status.groupBy("wk")
        .agg(
            F.sum("is_new").alias("n_new"),
            F.sum("is_retained").alias("n_retained"),
            F.sum("is_resurrected").alias("n_resurrected"),
            F.sum("churns_after").alias("n_churning_after"),
            F.count(F.lit(1)).alias("n_active"),
        )
        .orderBy("wk")
    )


# --------------------------------------------------------------------------
# Lag-k autocorrelation of the daily activity series
# --------------------------------------------------------------------------

ACF_LAGS = [1, 2, 3, 7]


@query(
    "q_ts_autocorr",
    oracle=f"""
        WITH {DAY_COUNTS_CTE},
        lags AS (SELECT unnest([{", ".join(str(k) for k in ACF_LAGS)}]) AS k),
        pairs AS (
          SELECT l.k, a.n AS x, b.n AS y
          FROM daily a
          JOIN lags l ON true
          JOIN daily b ON b.day_idx = a.day_idx + l.k
        ),
        moments AS (
          SELECT k, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                 SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM pairs GROUP BY k
        )
        SELECT k, n,
               CAST(floor((n * sxy - sx * sy)
                          / sqrt((n * sxx - sx * sx) * 1.0
                                 * (n * syy - sy * sy)) * 1000000)
                    AS BIGINT) AS acf_micro
        FROM moments
        ORDER BY k
    """,
)
def q_ts_autocorr(spark, d):
    """Lag-k autocorrelation of the daily event-count series
    (k = 1,2,3,7) — the seasonality detector (a weekly cycle shows as
    an acf(7) spike) run the scale-correct way: the corpus collapses
    to the calendar-bounded daily grain FIRST (combinable agg), the
    lag alignment is a self-join on day_idx + k over that tiny
    series, and Pearson comes from exact integer moment sums (counts,
    so no decimal detour needed — products stay BIGINT). Same
    closed-form expression on both engines; the acf leaves as integer
    micro (identical IEEE pipeline then floor(x*1e6))."""
    daily = day_counts(spark, d)
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in ACF_LAGS])).alias("k")
    )
    a = daily.select(F.col("day_idx").alias("di"), F.col("n").alias("x"))
    b = daily.select(F.col("day_idx").alias("dj"), F.col("n").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("dj") == F.col("di") + F.col("k"))
        .select("k", "x", "y")
    )
    m = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "k",
        "n",
        F.floor(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy))
            * 1000000
        ).alias("acf_micro"),
    ).orderBy("k")


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# --------------------------------------------------------------------------

BT_TEST_DAYS = 7


@query(
    "q_ts_backtest",
    oracle=f"""
        WITH {DAY_COUNTS_CTE},
        bounds AS (
          SELECT MAX(day_idx) - {BT_TEST_DAYS - 1} AS cutoff FROM daily
        ),
        test AS (
          SELECT d.day_idx, d.day_idx % 7 AS dow, d.n AS actual
          FROM daily d, bounds b WHERE d.day_idx >= b.cutoff
        ),
        train AS (
          SELECT d.day_idx % 7 AS dow, d.n
          FROM daily d, bounds b WHERE d.day_idx < b.cutoff
        ),
        model AS (
          SELECT dow,
                 CAST((SUM(n) * 1000000) // COUNT(*) AS BIGINT)
                     AS predicted_micro
          FROM train GROUP BY dow
        )
        SELECT t.day_idx, t.dow, t.actual, m.predicted_micro,
               CAST(abs(t.actual * 1000000 - m.predicted_micro)
                    AS BIGINT) AS abs_err_micro
        FROM test t JOIN model m ON t.dow = m.dow
        ORDER BY t.day_idx
    """,
)
def q_ts_backtest(spark, d):
    """Seasonal-naive forecast backtest: hold out the final week,
    predict each day's event count as the mean of same-weekday counts
    in the training window, and report per-day absolute error — the
    baseline every forecasting pipeline must beat, run as a query.
    Weekdays are epoch-day % 7 (no calendar ambiguity); counts are
    integers and the train mean + error are exact integer micro
    (long div long; abs over integers) — no float anywhere. Shape:
    corpus collapses to the daily grain once, the 'model' is a 7-row
    agg broadcast onto the 7-row test set."""
    daily = day_counts(spark, d)
    bounds = daily.agg(
        (F.max("day_idx") - (BT_TEST_DAYS - 1)).alias("cutoff")
    )
    with_cut = daily.crossJoin(F.broadcast(bounds))
    test = with_cut.filter(F.col("day_idx") >= F.col("cutoff")).select(
        "day_idx", (F.col("day_idx") % 7).alias("dow"),
        F.col("n").alias("actual"),
    )
    train = with_cut.filter(F.col("day_idx") < F.col("cutoff")).select(
        (F.col("day_idx") % 7).alias("dow"), "n"
    )
    model = train.groupBy("dow").agg(
        F.expr("sum(n) * 1000000L div count(*)").alias("predicted_micro")
    )
    return (
        test.join(F.broadcast(model), "dow")
        .select(
            "day_idx",
            "dow",
            "actual",
            "predicted_micro",
            F.abs(
                F.col("actual") * F.lit(1000000).cast("long")
                - F.col("predicted_micro")
            ).alias("abs_err_micro"),
        )
        .orderBy("day_idx")
    )
