"""Round-9 batch J: versioned-dimension consumption, table
reconciliation checksums, iterative outlier removal, and the third
external cluster-validation metric.

New keys (SURVEY.md §2B):
- q_join_pit_scd2     — point-in-time join of facts (purchases) to a
  versioned dimension (per-user signup versions with [from, to)
  validity): version attribution + interval-semantics proof columns
- q_dq_table_checksum — order-insensitive table checksums (XOR-fold
  of canonical row hashes) for 3 tables — the migration /
  replication reconciliation primitive
- q_ts_esd            — 3 unrolled rounds of extreme studentized
  deviate outlier removal on the daily count series (argmax by the
  exact integer |n·y − S| criterion, z reported in micro)
- q_ml_nmi            — normalized mutual information between the
  Lloyd assignment and the label partition (decimal-quantized
  n·ln(n) term sums), completing the purity/ARI/NMI triple

All declared; r8 output policy.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..registry import query
from ..sources.io import load
from ._helpers import h56, sql_h56
from .behavior import DAY_COUNTS_CTE, day_counts
from .fits import KM_CONT_CTE, KM_FIT_CTES, km_contingency

# --------------------------------------------------------------------------
# Point-in-time join to a versioned (SCD2) dimension
# --------------------------------------------------------------------------
#
# The consumption side of q_cdc_scd2's history build: facts join the
# dimension version VALID AT fact time ([valid_from, valid_to)
# semantics). Versions = each user's signup events (value = the
# versioned attribute); facts = purchases. Implemented as the
# single-shuffle as-of operator (the nearest version at-or-before the
# fact IS the valid interval); the oracle runs the quadratic interval
# BETWEEN emulation, so the hash check proves the asof rewrite
# implements true interval semantics. Aggregated to version-number
# attribution + integer checksum columns.

_PIT_ORACLE = """
    WITH dim AS (
      SELECT user_id,
             CAST(row_number() OVER w AS BIGINT) AS version,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS vfrom,
             CAST(epoch(date_trunc('second', lead(ts) OVER w))
                  AS BIGINT) AS vto,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS attr_cents
      FROM events WHERE event_type = 'signup'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    facts AS (
      SELECT event_id AS p_id, user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT f.p_id, d.version, d.attr_cents
      FROM facts f LEFT JOIN dim d
        ON d.user_id = f.user_id
       AND f.pts >= d.vfrom
       AND (d.vto IS NULL OR f.pts < d.vto)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN version IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(SUM(COALESCE(version, 0)) AS BIGINT) AS version_sum,
           CAST(SUM(COALESCE(attr_cents, 0)) AS BIGINT)
               AS attr_cents_sum,
           CAST(MAX(COALESCE(version, 0)) AS BIGINT) AS max_version
    FROM joined
"""


@query("q_join_pit_scd2", oracle=_PIT_ORACLE)
def q_join_pit_scd2(spark, d):
    """Point-in-time SCD2 consumption (module comment): the
    single-shuffle asof operator attaches each purchase's valid
    dimension version; the oracle's BETWEEN emulation proves the
    interval semantics."""
    from ..operators.asof import asof_join

    ev = load(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", "event_id", "ts", "value")
        .select(
            "user_id",
            F.row_number().over(w).cast("long").alias("version"),
            F.date_trunc("second", "ts").alias("ts"),
            F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias(
                "attr_cents"
            ),
        )
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.date_trunc("second", "ts").alias("ts"),
    )
    j = asof_join(
        facts,
        dim,
        on="user_id",
        ts="ts",
        value_cols=["version", "attr_cents"],
        tiebreak="version",
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(
            F.when(F.col("asof_version").isNotNull(), 1).otherwise(0)
        ).alias("n_matched"),
        F.sum(F.coalesce("asof_version", F.lit(0))).alias("version_sum"),
        F.sum(F.coalesce("asof_attr_cents", F.lit(0))).alias(
            "attr_cents_sum"
        ),
        F.max(F.coalesce("asof_version", F.lit(0))).alias("max_version"),
    )


# --------------------------------------------------------------------------
# Order-insensitive table checksums
# --------------------------------------------------------------------------
#
# The reconciliation primitive for migrations and replica audits:
# canonicalize each row to a string of INTEGER fields (doubles to
# cents, timestamps to epoch seconds — float/timestamp formatting is
# engine-specific, integers are not), hash with the portable md5
# head, and fold with XOR — order-insensitive, overflow-free, and
# any single changed row flips the checksum. One combinable agg per
# table.


def _cksum_sql(table: str, canon: str) -> str:
    return f"""
      SELECT '{table}' AS table_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(bit_xor({sql_h56(canon)}) AS BIGINT) AS xor_h,
             CAST(MIN({sql_h56(canon)}) AS BIGINT) AS min_h,
             CAST(MAX({sql_h56(canon)}) AS BIGINT) AS max_h
      FROM {table}
"""


_CANON_ORDERS = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' ||"
    " CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)"
    " || '|' || CAST(CAST(epoch(date_trunc('second', o_orderdate))"
    " AS BIGINT) AS VARCHAR) || '|' || o_orderpriority"
)
_CANON_CUSTOMER = (
    "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||"
    " CAST(c_nationkey AS VARCHAR) || '|' ||"
    " CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR)"
    " || '|' || c_mktsegment"
)
_CANON_NATION = (
    "CAST(n_nationkey AS VARCHAR) || '|' || n_name || '|' ||"
    " CAST(n_regionkey AS VARCHAR)"
)

_CKSUM_ORACLE = (
    _cksum_sql("orders", _CANON_ORDERS)
    + " UNION ALL "
    + _cksum_sql("customer", _CANON_CUSTOMER)
    + " UNION ALL "
    + _cksum_sql("nation", _CANON_NATION)
    + " ORDER BY table_name"
)


@query("q_dq_table_checksum", oracle=_CKSUM_ORACLE)
def q_dq_table_checksum(spark, d):
    """Order-insensitive checksums for 3 tables (module comment):
    one combinable XOR/min/max agg per table, unioned."""
    orders_canon = (
        "concat(cast(o_orderkey as string), '|',"
        " cast(o_custkey as string), '|', o_orderstatus, '|',"
        " cast(cast(floor(o_totalprice * 100 + 0.5) as bigint)"
        " as string), '|',"
        " cast(cast(date_trunc('second', o_orderdate) as long)"
        " as string), '|', o_orderpriority)"
    )
    customer_canon = (
        "concat(cast(c_custkey as string), '|', c_name, '|',"
        " cast(c_nationkey as string), '|',"
        " cast(cast(floor(c_acctbal * 100 + 0.5) as bigint)"
        " as string), '|', c_mktsegment)"
    )
    nation_canon = (
        "concat(cast(n_nationkey as string), '|', n_name, '|',"
        " cast(n_regionkey as string))"
    )

    def cksum(table, canon):
        df = load(spark, d, table)
        h = h56(canon)
        return df.agg(
            F.lit(table).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                f"bit_xor(cast(conv(substr(md5({canon}), 1, 14), 16, 10)"
                " as bigint))"
            ).alias("xor_h"),
            F.min(h).alias("min_h"),
            F.max(h).alias("max_h"),
        )

    return (
        cksum("orders", orders_canon)
        .unionAll(cksum("customer", customer_canon))
        .unionAll(cksum("nation", nation_canon))
        .orderBy("table_name")
    )


# --------------------------------------------------------------------------
# Generalized ESD outlier removal (3 unrolled rounds)
# --------------------------------------------------------------------------
#
# Grubbs/ESD-style anomaly triage: repeatedly remove the most extreme
# day from the daily count series and report each round's deviate.
# The argmax criterion |n·y − S| clears the mean's denominator so the
# pick is EXACT integer arithmetic (ties to the earlier day); the
# reported z = |y − mean| / sigma closes in one identical double
# chain. Each round's winner is collected (BOUNDED: one day id per
# round — the q_ml_kcenter_init re-anchor pattern) so round r+1's
# lineage stays one agg over the days-sized relation.


def _esd_round_sql(t: int, excl: str) -> str:
    return f"""
    m{t} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(n) AS BIGINT) AS s,
             CAST(SUM(n * n) AS BIGINT) AS q
      FROM daily WHERE day_idx NOT IN ({excl})
    ),
    pick{t} AS (
      SELECT day_idx, n, nd, s, q FROM (
        SELECT dd.day_idx, dd.n, m.nd, m.s, m.q,
               ROW_NUMBER() OVER (
                 ORDER BY abs(m.nd * dd.n - m.s) DESC, dd.day_idx) AS rk
        FROM daily dd CROSS JOIN m{t} m
        WHERE dd.day_idx NOT IN ({excl})
      ) WHERE rk = 1
    )
"""


def _esd_out_sql(t: int) -> str:
    return f"""
    SELECT {t} AS round, day_idx AS day_num, n AS y,
           CAST(floor(
             abs(CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / nd)
             / sqrt((CAST(nd AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                    / (CAST(nd AS DOUBLE) * nd))
             * 1000000.0) AS BIGINT) AS z_micro
    FROM pick{t}
"""


_ESD_ORACLE = f"""
    WITH {DAY_COUNTS_CTE},
    {_esd_round_sql(1, "-1")},
    {_esd_round_sql(2, "SELECT day_idx FROM pick1")},
    {_esd_round_sql(3, "SELECT day_idx FROM pick1 UNION ALL "
                       "SELECT day_idx FROM pick2")}
    {_esd_out_sql(1)}
    UNION ALL {_esd_out_sql(2)}
    UNION ALL {_esd_out_sql(3)}
    ORDER BY round
"""


@query("q_ts_esd", oracle=_ESD_ORACLE)
def q_ts_esd(spark, d):
    """3 unrolled ESD outlier-removal rounds (module comment). The
    corpus collapses to the calendar-bounded daily grain once; each
    round is one 1-row moment agg + one argmax over that grain."""
    daily = day_counts(spark, d)
    excl: list[int] = []
    out_rows = []
    for t in (1, 2, 3):
        rem = daily.filter(~F.col("day_idx").isin(excl)) if excl else daily
        m = rem.agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("n").alias("s"),
            F.sum(F.col("n") * F.col("n")).alias("q"),
        )
        row = (
            rem.crossJoin(F.broadcast(m))
            .withColumn(
                "crit", F.abs(F.col("nd") * F.col("n") - F.col("s"))
            )
            .orderBy(F.desc("crit"), "day_idx")
            .limit(1)
            .collect()[0]
        )
        excl.append(int(row.day_idx))
        import math

        nd, s, q = int(row.nd), int(row.s), int(row.q)
        z = (
            abs(float(row.n) - float(s) / nd)
            / math.sqrt((float(nd) * q - float(s) * s) / (float(nd) * nd))
        )
        out_rows.append(
            (t, int(row.day_idx), int(row.n), math.floor(z * 1e6))
        )
    return spark.createDataFrame(
        out_rows, "round int, day_num bigint, y bigint, z_micro bigint"
    ).orderBy("round")


# --------------------------------------------------------------------------
# Normalized mutual information (cluster vs label)
# --------------------------------------------------------------------------
#
# NMI = 2·I(C;L) / (H(C) + H(L)) over the k x |labels| contingency
# table. Every entropy/MI term is n·ln(n)-shaped from exact integer
# counts; terms quantize to DECIMAL(30,10) before the cross-cell sum
# so both engines add identical values (the q_text_entropy decimal
# discipline). Completes the external-validation triple with
# q_ml_cluster_purity and q_ml_rand_index.


_NMI_ORACLE = f"""
        WITH {KM_FIT_CTES},
        {KM_CONT_CTE},
        n_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cont),
        hc AS (
          SELECT CAST(SUM(CAST(s * ln(CAST(s AS DOUBLE))
                               AS DECIMAL(30,10))) AS DOUBLE) AS v
          FROM (SELECT CAST(SUM(c) AS BIGINT) AS s FROM cont
                GROUP BY cluster)
        ),
        hl AS (
          SELECT CAST(SUM(CAST(s * ln(CAST(s AS DOUBLE))
                               AS DECIMAL(30,10))) AS DOUBLE) AS v
          FROM (SELECT CAST(SUM(c) AS BIGINT) AS s FROM cont
                GROUP BY label)
        ),
        hcl AS (
          SELECT CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE))
                               AS DECIMAL(30,10))) AS DOUBLE) AS v
          FROM cont
        )
        SELECT t.n,
               CAST(floor(
                 2.0 * (hcl.v / t.n - hc.v / t.n - hl.v / t.n
                        + ln(CAST(t.n AS DOUBLE)))
                 / ((ln(CAST(t.n AS DOUBLE)) - hc.v / t.n)
                    + (ln(CAST(t.n AS DOUBLE)) - hl.v / t.n))
                 * 1000000.0) AS BIGINT) AS nmi_micro
        FROM n_tot t CROSS JOIN hc CROSS JOIN hl CROSS JOIN hcl
    """


@query("q_ml_nmi", oracle=_NMI_ORACLE)
def q_ml_nmi(spark, d):
    """NMI between the Lloyd assignment and the label partition
    (module comment): one contingency agg over the memoized fit,
    cell-sized entropy sums, one identical double chain."""
    cont = km_contingency(spark, d)
    nlogn = lambda col: (  # noqa: E731
        F.col(col).cast("double") * F.log(F.col(col).cast("double"))
    ).cast("decimal(30,10)")
    n_tot = cont.agg(F.sum("c").alias("n"))
    hc = (
        cont.groupBy("cluster")
        .agg(F.sum("c").alias("s"))
        .agg(F.sum(nlogn("s")).cast("double").alias("hc"))
    )
    hl = (
        cont.groupBy("label")
        .agg(F.sum("c").alias("s"))
        .agg(F.sum(nlogn("s")).cast("double").alias("hl"))
    )
    hcl = cont.agg(F.sum(nlogn("c")).cast("double").alias("hcl"))
    return (
        n_tot.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hcl))
        .selectExpr(
            "n",
            "cast(floor("
            " 2.0d * (hcl / n - hc / n - hl / n"
            "         + ln(cast(n as double)))"
            " / ((ln(cast(n as double)) - hc / n)"
            "    + (ln(cast(n as double)) - hl / n))"
            " * 1000000.0d) as bigint) AS nmi_micro",
        )
    )
