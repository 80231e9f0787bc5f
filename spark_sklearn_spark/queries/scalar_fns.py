"""Scalar-function surface (SURVEY.md §2B 'Scalar functions').

Six declared queries covering the string / date / math / array / map /
json built-in families. Everything stays JVM-side (no Python UDFs) so
the whole projection compiles into one WholeStageCodegen span over the
scan — the shape that matters at 100 TB, where per-row Python would be
the bottleneck.

Parity traps handled here (SURVEY.md §7 "hard parts"):
- Spark ``dayofweek`` is 1=Sunday..7; DuckDB ``date_part('dow')`` is
  0=Sunday..6 → oracle adds 1.
- Spark ``floor``/``ceil`` return BIGINT, DuckDB return DOUBLE → cast.
- DuckDB ``date_trunc('month', …)`` returns DATE → cast to TIMESTAMP.
- Transcendental fns (ln, sqrt, pow) are rounded to 6 decimals on both
  sides to absorb last-ulp libm differences.
- Array/map outputs are serialized to scalars (driver hash cannot
  digest list cells).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import h56


@query(
    "q_fn_string",
    oracle="""
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               lower(p_brand) AS brand_lower,
               substr(p_name, 1, 8) AS name_prefix,
               trim(p_type) AS type_trim,
               concat_ws('|', p_brand, p_type) AS brand_type,
               CAST(length(p_name) AS BIGINT) AS name_len,
               CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1
                    AS INTEGER) AS n_words,
               regexp_extract(p_type, '([A-Z]+)$', 1) AS type_last_word
        FROM part
    """,
)
def q_fn_string(spark, d):
    """String functions: upper/lower/substring/trim/concat_ws/length/
    split/regexp_extract. Token count goes through split() but is
    emitted as a scalar size() so the output stays hashable."""
    p = load(spark, d, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.trim(F.col("p_type")).alias("type_trim"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.size(F.split(F.col("p_name"), " ")).alias("n_words"),
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("type_last_word"),
    )


@query(
    "q_fn_date",
    oracle="""
        SELECT o_orderkey,
               CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
               CAST(date_part('month', o_orderdate) AS INTEGER) AS mo,
               CAST(date_part('dow', o_orderdate) + 1 AS INTEGER) AS dow,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                   AS month_start,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS INTEGER)
                   AS days_since_95,
               last_day(CAST(o_orderdate AS DATE)) AS eom
        FROM orders
    """,
)
def q_fn_date(spark, d):
    """Date functions: year/month/dayofweek/date_trunc/datediff/
    last_day. Spark dayofweek is 1=Sunday..7; the oracle shifts
    DuckDB's 0-based dow to match."""
    o = load(spark, d, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
        F.last_day(F.col("o_orderdate").cast("date")).alias("eom"),
    )


@query(
    "q_fn_math",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               abs(l_extendedprice - 1000.0) AS abs_diff,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
               l_orderkey // 7 AS div7,
               l_orderkey % 7 AS mod7,
               ROUND(sqrt(l_quantity), 6) AS qty_sqrt,
               ROUND(ln(l_extendedprice), 6) AS price_ln,
               ROUND(pow(l_tax + 1, 2), 6) AS tax_sq
        FROM lineitem
    """,
)
def q_fn_math(spark, d):
    """Math functions: abs/floor/ceil/int-div/mod exact; sqrt/ln/pow
    rounded to 6 to absorb libm last-ulp differences between JVM and
    C implementations."""
    li = load(spark, d, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 1000.0).alias("abs_diff"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.expr("l_orderkey div 7").alias("div7"),
        (F.col("l_orderkey") % 7).alias("mod7"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.pow(F.col("l_tax") + 1, 2), 6).alias("tax_sq"),
    )


@query(
    "q_fn_array",
    oracle="""
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER) AS dim,
               CAST(embedding[1] AS DOUBLE) AS first_val,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER)
                   AS n_pos,
               ROUND(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)
                   AS sq_norm
        FROM embeddings
    """,
)
def q_fn_array(spark, d):
    """Array / higher-order functions on the embedding column: size,
    element_at, filter, transform + aggregate (dot product with
    itself). float32→double cast happens identically on both sides
    (FIXTURES.md determinism note); the fold runs in array order in
    both engines, rounded to 6 as belt-and-braces."""
    e = load(spark, d, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("sq_norm"),
    )


@query(
    "q_fn_map",
    oracle="""
        SELECT event_id,
               CAST(props->>'$.k' AS BIGINT) AS k_val,
               CAST(1 AS INTEGER) AS n_keys,
               'k' AS keys_csv
        FROM events
    """,
)
def q_fn_map(spark, d):
    """Map functions: build a real MapType column from the JSON props
    string via str_to_map, then element_at / map_keys / size. The
    oracle mirrors the *values* (json_extract + the known single-key
    shape) — DuckDB's MAP surface differs too much for structural
    parity, but the scalar outputs are exactly comparable."""
    ev = load(spark, d, "events")
    m = F.expr("str_to_map(regexp_replace(props, '[{}\" ]', ''), ',', ':')")
    return ev.select(
        "event_id",
        F.element_at(m, "k").cast("long").alias("k_val"),
        F.size(m).alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_csv"),
    )


@query(
    "q_fn_json",
    oracle="""
        SELECT event_id,
               CAST(props->>'$.k' AS BIGINT) AS k_get,
               CAST(props->>'$.k' AS BIGINT) AS k_from,
               CAST(props->>'$.k' IS NOT NULL AS BOOLEAN) AS has_k
        FROM events
    """,
)
def q_fn_json(spark, d):
    """JSON functions: get_json_object (path extraction), from_json
    (schema-full parse to struct, then field access), and a key-
    presence predicate. The predicate is has_k, not json-validity:
    the two engines' validity functions disagree on documents that
    are valid JSON but lack the key, so the declared column pins the
    same semantics on both sides."""
    ev = load(spark, d, "events")
    parsed = F.from_json("props", "k BIGINT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_get"),
        parsed.getField("k").alias("k_from"),
        F.get_json_object("props", "$.k").isNotNull().alias("has_k"),
    )


@query(
    "q_fn_variant",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(min(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS min_k,
               CAST(max(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS max_k,
               CAST(count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT)
                                    % 2 = 0 THEN 1 END) AS BIGINT) AS n_even
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def q_fn_variant(spark, d):
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed
    variant_get extraction — the open-schema path for event
    properties where from_json's fixed StructType (q_fn_json) is too
    rigid. variant_get is a JVM intrinsic over the variant binary
    (no per-row JSON re-parse after the initial encode; at scale the
    parse cost amortizes when many fields are extracted from one
    parse). Integer extraction + combinable agg — deterministic on
    both engines (the oracle reads the same JSON text directly)."""
    ev = load(spark, d, "events")
    k = F.expr("variant_get(v, '$.k', 'long')")
    return (
        ev.select("event_type", F.parse_json("props").alias("v"))
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") % 2 == 0, 1)).alias("n_even"),
        )
        .orderBy("event_type")
    )


@query(
    "q_fn_interval",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
               CAST(date_trunc('month', o_orderdate + INTERVAL 1 MONTH)
                    AS TIMESTAMP) AS next_month_start,
               CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)
                    AS BIGINT) AS days_since_epoch_ref,
               CAST(datediff('month', DATE '1995-01-01',
                             CAST(o_orderdate AS DATE)) * 1000000
                    + (extract(day FROM o_orderdate) - 1) * 1000000
                      // 31 AS BIGINT) AS months_approx_micro
        FROM orders
        WHERE o_orderkey % 100 = 0
        ORDER BY o_orderkey
    """,
)
def q_fn_interval(spark, d):
    """Calendar interval arithmetic: day/month interval addition,
    month-boundary truncation after an interval shift, day deltas
    against a fixed reference, and a deterministic fractional-month
    measure (integer month delta + day-of-month fraction — built from
    integer parts on BOTH engines instead of months_between, whose
    31-day convention DuckDB does not share; the fraction is exact
    integer micro, (dom-1)*1e6 div 31). Pure codegen'd date
    arithmetic — no shuffle beyond the final sort; the hash-sample
    predicate prunes at the scan."""
    o = load(spark, d, "orders").filter(F.col("o_orderkey") % 100 == 0)
    od = F.col("o_orderdate")
    months_int = (
        (F.year(od) - F.lit(1995)) * 12 + (F.month(od) - F.lit(1))
    ).cast("long")
    months_approx = (
        months_int * 1000000
        + F.expr("(dayofmonth(o_orderdate) - 1) * 1000000L div 31")
    )
    return o.select(
        "o_orderkey",
        (od + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.date_trunc("month", od + F.expr("INTERVAL 1 MONTH")).alias(
            "next_month_start"
        ),
        F.datediff(od, F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch_ref"),
        months_approx.alias("months_approx_micro"),
    ).orderBy("o_orderkey")


@query(
    "q_fn_try_arith",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_discount = 0 THEN NULL
                    ELSE CAST(floor(l_extendedprice / l_discount
                                    * 1000000) AS BIGINT) END
                   AS price_per_disc_micro,
               TRY_CAST(l_returnflag AS BIGINT) AS flag_as_int,
               CASE WHEN l_quantity = 0 THEN NULL
                    ELSE CAST(floor(l_extendedprice / l_quantity) AS BIGINT)
                    END AS unit_price_int
        FROM lineitem
        WHERE l_orderkey % 200 = 0
        ORDER BY l_orderkey, l_linenumber
    """,
)
def q_fn_try_arith(spark, d):
    """Error-safe expressions: try_divide (NULL on divide-by-zero
    instead of a job-killing ANSI error), try_cast (NULL on
    unparseable input). On a 100 TB corpus a handful of bad rows is a
    certainty — try_* keeps the scan streaming instead of failing the
    stage, and the NULLs flow to downstream quality filters. The
    oracle mirrors with explicit CASE guards (DuckDB division returns
    inf rather than erroring, so the guard IS the portable form).
    Pure codegen projection."""
    li = load(spark, d, "lineitem").filter(F.col("l_orderkey") % 200 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(
            F.try_divide(F.col("l_extendedprice"), F.col("l_discount"))
            * 1000000
        ).try_cast("bigint").alias("price_per_disc_micro"),
        F.col("l_returnflag").try_cast("bigint").alias("flag_as_int"),
        # floor() both sides: a bare double→bigint cast TRUNCATES in
        # Spark but ROUNDS in DuckDB — floor is the portable form
        F.floor(F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")))
        .try_cast("bigint")
        .alias("unit_price_int"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "q_fn_surrogate_key",
    oracle="""
        WITH keyed AS (
          SELECT o_orderkey,
                 CAST(('0x' || substr(md5('ord|' || CAST(o_orderkey
                      AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)),
                      1, 14)) AS BIGINT) AS sk
          FROM orders
        )
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT sk) AS n_keys,
               CAST(MIN(sk) AS BIGINT) AS min_sk,
               CAST(MAX(sk) AS BIGINT) AS max_sk,
               CAST(SUM(CASE WHEN o_orderkey % 10000 = 0 THEN sk
                             ELSE 0 END) AS BIGINT) AS sample_sum
        FROM keyed
    """,
)
def q_fn_surrogate_key(spark, d):
    """Deterministic surrogate-key minting: a 56-bit key from the md5
    of the delimited natural key — the reproducible alternative to
    monotonically_increasing_id (whose values depend on partition
    layout and rerun, so they can never be joined across snapshots or
    engines). Same md5-head portability trick as q_dedup_simhash
    (digest identical everywhere; 14 hex chars can't overflow int64);
    the delimiter prevents ('ab','c') / ('a','bc') collisions. The
    declared check pins zero collisions over the order table
    (n_keys == n_rows), the key range, and a deterministic sample of
    the actual key VALUES — proving cross-engine joinability, not
    just cardinality. Pure codegen projection + one combinable agg."""
    orders = load(spark, d, "orders")
    keyed = orders.select(
        "o_orderkey",
        h56(
            "concat('ord|', cast(o_orderkey as string),"
            " '|', cast(o_custkey as string))"
        ).alias("sk"),
    )
    return keyed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("sk").alias("n_keys"),
        F.min("sk").alias("min_sk"),
        F.max("sk").alias("max_sk"),
        F.sum(
            F.when(F.col("o_orderkey") % 10000 == 0, F.col("sk")).otherwise(
                F.lit(0)
            )
        ).alias("sample_sum"),
    )


@query(
    "q_sql_recursive",
    oracle="""
        WITH RECURSIVE nodes AS (
          SELECT DISTINCT p_partkey AS k,
                 CAST(floor(p_partkey / 10) AS BIGINT) AS parent
          FROM part
        ),
        walk AS (
          SELECT k, parent, 0 AS depth FROM nodes WHERE k = 0
          UNION ALL
          SELECT n.k, n.parent, w.depth + 1
          FROM nodes n JOIN walk w ON n.parent = w.k
          WHERE n.k <> 0
        )
        SELECT depth, COUNT(*) AS n_nodes,
               MIN(k) AS min_key, MAX(k) AS max_key
        FROM walk
        GROUP BY depth
        ORDER BY depth
    """,
)
def q_sql_recursive(spark, d):
    """Recursive CTE (Spark 4.1 WITH RECURSIVE / Catalyst UnionLoop)
    walking a synthetic 10-ary part hierarchy (parent = key/10) from
    the root and reporting node counts per depth — the org-chart /
    BOM-rollup shape that previously required driver-side iteration
    (operators/components.py). Each recursion step is one self-join
    of the frontier against the node table, so depth bounds the
    iteration count (4 levels here; log10 of the key space), exactly
    how the engine executes hierarchical rollups at scale. Same
    RECURSIVE SQL shape on both engines."""
    from ..sources.io import register_views

    register_views(spark, d, ["part"])
    return spark.sql(
        """
        WITH RECURSIVE nodes AS (
          SELECT DISTINCT p_partkey AS k,
                 CAST(floor(p_partkey / 10) AS BIGINT) AS parent
          FROM part
        ),
        walk AS (
          SELECT k, parent, 0 AS depth FROM nodes WHERE k = 0
          UNION ALL
          SELECT n.k, n.parent, w.depth + 1
          FROM nodes n JOIN walk w ON n.parent = w.k
          WHERE n.k <> 0
        )
        SELECT depth, COUNT(*) AS n_nodes,
               MIN(k) AS min_key, MAX(k) AS max_key
        FROM walk
        GROUP BY depth
        ORDER BY depth
        """
    )


@query(
    "q_fn_timezone",
    oracle="""
        WITH local_ts AS (
          -- timezone('UTC', ts) pins the naive->instant reading to
          -- UTC regardless of the DuckDB session timezone (a bare
          -- CAST(ts AS TIMESTAMPTZ) reads in session tz, so the
          -- declared hash would only match on UTC hosts)
          SELECT timezone('America/New_York',
                          timezone('UTC', o_orderdate)) AS lt
          FROM orders
        )
        SELECT CAST(extract(hour FROM lt) AS INTEGER) AS local_hour,
               COUNT(*) AS n,
               MIN(lt) AS first_local,
               MAX(lt) AS last_local
        FROM local_ts
        GROUP BY local_hour
        ORDER BY local_hour
    """,
)
def q_fn_timezone(spark, d):
    """Timezone conversion parity: UTC-midnight order timestamps
    rendered in America/New_York split into 19:00 (EST, UTC-5) and
    20:00 (EDT, UTC-4) local hours — the DST transition itself is the
    check (both engines consult the same IANA rules; a naive fixed
    offset would produce one hour). Spark convert_timezone ==
    DuckDB's AT TIME ZONE under the pinned-UTC session. Conversion
    is per-row codegen; the rollup is a 2-cell agg."""
    o = load(spark, d, "orders")
    lt = F.convert_timezone(
        F.lit("UTC"), F.lit("America/New_York"), F.col("o_orderdate")
    )
    return (
        o.select(lt.alias("lt"))
        .groupBy(F.hour("lt").alias("local_hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lt").alias("first_local"),
            F.max("lt").alias("last_local"),
        )
        .orderBy("local_hour")
    )
