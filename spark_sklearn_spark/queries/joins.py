"""Join queries (SURVEY.md §2B 'Joins').

Physical-strategy notes (checked in tests/test_plans.py):
- q_join_broadcast must plan a BroadcastHashJoin (dim side hinted).
- q_join_shuffle is a SortMergeJoin on the shuffled key.
- q_join_theta is a broadcast nested-loop join on deliberately-bounded
  inputs (selective filters first — a theta join's cost is |L|·|R|).
- q_join_range_ts avoids BNLJ entirely via the bucketed interval join
  (operators/range_join.py) — the 100 TB-safe plan.
- q_join_asof uses the single-shuffle union+window operator
  (operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.range_join import interval_join
from ..registry import query
from ..sources.io import load
from ._helpers import dsum, sql_dsum


@query(
    "q_join_broadcast",
    oracle=f"""
        SELECT p.p_type,
               CAST(count(*) AS BIGINT) AS n,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_type
    """,
)
def q_join_broadcast(spark, d):
    """Fact ⋈ broadcast(dim): part is tiny relative to lineitem at any
    scale factor — broadcast skips the fact-side shuffle entirely."""
    li = load(spark, d, "lineitem")
    p = load(spark, d, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


@query(
    "q_join_shuffle",
    oracle=f"""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               {sql_dsum("l.l_extendedprice", "total_price")}
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def q_join_shuffle(spark, d):
    """Large ⋈ large on the natural key → sort-merge join; both sides
    shuffle once on o_orderkey/l_orderkey and AQE coalesces output
    partitions."""
    o = load(spark, d, "orders")
    li = load(spark, d, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", "total_price"),
        )
    )


@query(
    "q_join_multiway",
    oracle=f"""
        SELECT r.r_name, n.n_name,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               CAST(count(*) AS BIGINT) AS n_items
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, n.n_name
    """,
)
def q_join_multiway(spark, d):
    """5-way star join: fact chain shuffles, dims broadcast. Catalyst
    + AQE order the joins; the dim joins never shuffle the fact."""
    c = load(spark, d, "customer")
    o = load(spark, d, "orders")
    li = load(spark, d, "lineitem")
    n = load(spark, d, "nation")
    r = load(spark, d, "region")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_join_outer",
    oracle="""
        SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_big
        FROM customer c
        LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    """,
)
def q_join_outer(spark, d):
    """Left outer join preserving customers with zero matches
    (TPC-H Q13 shape)."""
    c = load(spark, d, "customer")
    o = load(spark, d, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big"))
    )


@query(
    "q_join_outer_right",
    oracle="""
        SELECT c.c_custkey, o.o_orderkey
        FROM (SELECT * FROM orders WHERE o_totalprice > 450000) o
        RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_outer_right(spark, d):
    """Right outer join: every customer survives, orders side nulls
    out where no qualifying order exists (the right-variant SURVEY
    q_join_outer row; left and full live alongside)."""
    c = load(spark, d, "customer")
    o = load(spark, d, "orders").filter(F.col("o_totalprice") > 450000)
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "o_orderkey"
    )


@query(
    "q_join_outer_full",
    oracle="""
        WITH om AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1
        ), em AS (
            SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1
        )
        SELECT COALESCE(om.month, em.month) AS month,
               om.n_orders, em.n_events
        FROM om FULL OUTER JOIN em ON om.month = em.month
    """,
)
def q_join_outer_full(spark, d):
    """Full outer join of two monthly aggregates (disjoint date ranges
    exercise null-fill on both sides)."""
    om = (
        load(spark, d, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    em = (
        load(spark, d, "events")
        .groupBy(F.date_trunc("month", "ts").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return om.join(em, "month", "full").select(
        "month", "n_orders", "n_events"
    )


@query(
    "q_join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 450000)
    """,
)
def q_join_semi(spark, d):
    """Existence semi-join — no row multiplication from the right."""
    c = load(spark, d, "customer")
    o = load(spark, d, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 400000)
    """,
)
def q_join_anti(spark, d):
    """Anti-join: customers with no qualifying order."""
    c = load(spark, d, "customer")
    o = load(spark, d, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_theta",
    oracle="""
        SELECT a.event_id AS a_id, b.event_id AS b_id
        FROM (SELECT * FROM events
              WHERE event_type = 'signup' AND value > 325) a
        JOIN (SELECT * FROM events
              WHERE event_type = 'purchase' AND value > 325) b
          ON a.value < b.value AND a.user_id <> b.user_id
    """,
)
def q_join_theta(spark, d):
    """Pure non-equi (theta) join, executed as a *band join*
    (operators/band_join.py): the value domain is discretized so the
    inequality becomes a shuffled equi-join on band id + residual
    filter, instead of the broadcast nested-loop join Spark would plan —
    BNLJ cost grows as |L|·|R| (10,000× at 100× data) while the band
    join grows linearly with a constant replication factor."""
    from ..operators.band_join import band_join_less_than

    ev = load(spark, d, "events")
    a = ev.filter((F.col("event_type") == "signup") & (F.col("value") > 325)).select(
        F.col("event_id").alias("a_id"),
        F.col("user_id").alias("a_user"),
        F.col("value").alias("a_value"),
    )
    b = ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 325)).select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("value").alias("b_value"),
    )
    joined = band_join_less_than(a, b, "a_value", "b_value", lo=325.0, hi=600.0, width=25.0)
    return joined.filter(F.col("a_user") != F.col("b_user")).select("a_id", "b_id")


@query(
    "q_join_range_ts",
    oracle="""
        SELECT p.event_id AS p_id, CAST(count(*) AS BIGINT) AS n_clicks
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        GROUP BY p.event_id
    """,
)
def q_join_range_ts(spark, d):
    """Interval join: clicks in the hour before each purchase —
    executed with the bucketed equi-join plan (no BNLJ)."""
    ev = load(spark, d, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("lo"),
            F.col("ts").alias("hi"),
        )
    )
    j = interval_join(clicks, "ts", purchases, "lo", "hi", bucket_seconds=3600)
    return j.groupBy("p_id").agg(F.count(F.lit(1)).alias("n_clicks"))


@query(
    "q_join_asof",
    oracle="""
        WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS c_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
             j AS (
               SELECT p.p_id, c.c_id,
                      row_number() OVER (PARTITION BY p.p_id
                                         ORDER BY c.ts DESC, c.c_id DESC) AS rn
               FROM p LEFT JOIN c
                 ON p.user_id = c.user_id AND c.ts <= p.ts
             )
        SELECT p_id, c_id FROM j WHERE rn = 1
    """,
)
def q_join_asof(spark, d):
    """As-of join: latest click at/before each purchase, per user.
    Spark side runs the single-shuffle union+window operator; the
    oracle checks identical semantics via the quadratic row_number
    emulation."""
    ev = load(spark, d, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases, clicks, on="user_id", ts="ts",
        value_cols=["event_id"], tiebreak="event_id",
    )
    return out.select("p_id", F.col("asof_event_id").alias("c_id"))


@query(
    "q_join_asof_forward",
    oracle="""
        WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS c_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
             j AS (
               SELECT p.p_id, c.c_id,
                      row_number() OVER (PARTITION BY p.p_id
                                         ORDER BY c.ts ASC, c.c_id DESC) AS rn
               FROM p LEFT JOIN c
                 ON p.user_id = c.user_id AND c.ts >= p.ts
             )
        SELECT p_id, c_id FROM j WHERE rn = 1
    """,
)
def q_join_asof_forward(spark, d):
    """Forward as-of join: EARLIEST click at/after each purchase, per
    user (same single-shuffle operator as q_join_asof with
    direction='forward'; ties on click ts resolve to greatest
    event_id, mirrored by the oracle's `c.ts ASC, c.c_id DESC`)."""
    ev = load(spark, d, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases, clicks, on="user_id", ts="ts",
        value_cols=["event_id"], tiebreak="event_id",
        direction="forward",
    )
    return out.select("p_id", F.col("asof_event_id").alias("c_id"))


@query(
    "q_join_asof_nearest",
    oracle="""
        WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS c_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
             j AS (
               SELECT p.p_id, c.c_id,
                      row_number() OVER (PARTITION BY p.p_id
                        ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
                                 CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END ASC,
                                 c.c_id DESC) AS rn
               FROM p LEFT JOIN c ON p.user_id = c.user_id
             )
        SELECT p_id, c_id FROM j WHERE rn = 1
    """,
)
def q_join_asof_nearest(spark, d):
    """Nearest as-of join: the click closest in time to each purchase,
    per user; equal distances resolve to the backward (earlier) match
    — the operator's documented tie rule, mirrored in the oracle by
    preferring `c.ts <= p.ts` at equal |Δt|. Distances compare in
    integer microseconds on both engines (epoch_us vs unix_micros)."""
    ev = load(spark, d, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases, clicks, on="user_id", ts="ts",
        value_cols=["event_id"], tiebreak="event_id",
        direction="nearest",
    )
    return out.select("p_id", F.col("asof_event_id").alias("c_id"))


@query(
    "q_join_cross",
    oracle="""
        SELECT r.r_name, n.n_name, r.r_name || '/' || n.n_name AS pair
        FROM region r CROSS JOIN nation n
    """,
)
def q_join_cross(spark, d):
    """Cartesian product of two tiny dims."""
    r = load(spark, d, "region")
    n = load(spark, d, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        F.concat_ws("/", "r_name", "n_name").alias("pair"),
    )


@query(
    "q_join_skew",
    oracle=f"""
        WITH e AS (
          SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k,
                 event_type, value
          FROM events
        ), c AS (
          SELECT c_custkey AS k, c_mktsegment FROM customer
          WHERE c_custkey < 150
        )
        SELECT c.c_mktsegment AS mktsegment, e.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {sql_dsum("e.value", "sum_value")}
        FROM e JOIN c ON e.k = c.k
        GROUP BY 1, 2
    """,
)
def q_join_skew(spark, d):
    """Skewed-key join through the explicit salting path
    (operators/salting.py, VERDICT r2 item 5): a deterministic hot key
    (every third user collapses onto key 0, ~33% of the fact side —
    the fixture's keys are uniform, so the skew is synthesized
    in-query and mirrored exactly in the oracle) joins a small dim.
    The big side is salted on event_id, the dim is replicated
    16-fold, and the join is hinted shuffle_hash so the plan shows the
    salt actually spreading the hot key across partitions — at 100 TB
    this is the shape for dims too big to broadcast but small enough
    to replicate, where AQE's skew split can't see a mid-query hot
    key."""
    from ..operators.salting import salted_join

    ev = load(spark, d, "events").select(
        F.when(F.col("user_id") % 3 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("k"),
        "event_id",
        "event_type",
        "value",
    )
    cust = (
        load(spark, d, "customer")
        .filter(F.col("c_custkey") < 150)
        .select(F.col("c_custkey").cast("long").alias("k"), "c_mktsegment")
        .hint("shuffle_hash")
    )
    joined = salted_join(ev, cust, on="k", buckets=16, salt_from=["event_id"])
    return joined.groupBy(
        F.col("c_mktsegment").alias("mktsegment"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


# ROUND-safe: sum_price rounds the decimal-exact sum of 2-dp money
# (o_totalprice) back to 2 dp — never near a .005 tie on either
# engine (accumulated quantize error ~1e-6).
@query(
    "q_join_null_safe",
    oracle="""
        WITH o AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
                      ELSE o_orderpriority END AS pri,
                 o_totalprice
          FROM orders
        ), c AS (
          SELECT DISTINCT
                 CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
                      ELSE o_orderpriority END AS pri,
                 o_orderstatus
          FROM orders
        )
        SELECT o.pri AS pri, c.o_orderstatus,
               count(*) AS n,
               ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,10)))
                          AS DOUBLE), 2) AS sum_price
        FROM o JOIN c ON o.pri IS NOT DISTINCT FROM c.pri
        GROUP BY o.pri, c.o_orderstatus
        ORDER BY o.pri NULLS FIRST, c.o_orderstatus
    """,
)
def q_join_null_safe(spark, d):
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics you need
    when joining on a nullable dimension (here a priority column with
    one value nulled out in-query, since the fixtures ship no NULLs).
    Spark plans eqNullSafe as a plain hash join — the null bucket
    hashes like any other key — so the 100 TB posture is identical to
    q_join_shuffle; the trap it guards against is the silent row loss
    of a plain equi-join on nullable keys. Decimal-policy sum, NULL
    group ordered first on both engines."""
    o = load(spark, d, "orders")
    nullify = F.when(
        F.col("o_orderpriority") == "3-MEDIUM", F.lit(None)
    ).otherwise(F.col("o_orderpriority"))
    left = o.select(
        nullify.alias("pri"), F.col("o_totalprice")
    )
    right = o.select(
        nullify.alias("pri_r"), F.col("o_orderstatus")
    ).distinct()
    return (
        left.join(right, left["pri"].eqNullSafe(right["pri_r"]))
        .groupBy("pri", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,10)")).cast(
                    "double"
                ),
                2,
            ).alias("sum_price"),
        )
        .orderBy(F.asc_nulls_first("pri"), F.asc("o_orderstatus"))
    )


# ROUND-safe: top_acctbal rounds a single 2-dp money value to 2 dp
# (identity on the exact cents value); the ordering uses the RAW
# double with a name tiebreak — identical on both engines.
@query(
    "q_join_lateral",
    oracle="""
        SELECT n.n_name,
               t.c_name AS top_customer,
               ROUND(t.c_acctbal, 2) AS top_acctbal
        FROM nation n,
             LATERAL (
               SELECT c_name, c_acctbal
               FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name
               LIMIT 1
             ) t
        ORDER BY n_name
    """,
)
def q_join_lateral(spark, d):
    """Correlated LATERAL subquery join: for each nation, the top
    customer by balance — the SQL form of a per-row dependent
    subquery. Catalyst DECORRELATES it (DomainJoin rewrite) into a
    join against a ranked/aggregated right side rather than
    re-executing the subquery per outer row, so the physical plan is
    the same shape as a top-1-per-group window + join — per-row
    re-execution would be a disguised nested loop at 100 TB. LIMIT
    carries the (acctbal DESC, name) tie-break on both engines."""
    from ..sources.io import register_views

    register_views(spark, d, tables=["nation", "customer"])
    return spark.sql(
        """
        SELECT n.n_name,
               t.c_name AS top_customer,
               ROUND(t.c_acctbal, 2) AS top_acctbal
        FROM nation n,
             LATERAL (
               SELECT c_name, c_acctbal
               FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name
               LIMIT 1
             ) t
        ORDER BY n_name
        """
    )
