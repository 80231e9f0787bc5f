"""Local differential harness — mirrors the driver's t2 correctness run.

For every declared query: run the Spark DataFrame and the DuckDB
oracle on the same sf_dir, then compare row count, column-name sets,
and the order-insensitive multiset of row values. Stricter than the
driver (exact value equality after canonicalization), so passing here
should imply passing t2.

Usage:
    python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    """Canonicalize one value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return _canon(float(v))
    if isinstance(v, np.ndarray):
        return tuple(_canon(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def _rows(cols, data):
    """(col names, row seq) → sorted list of name-sorted row tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in data),
        key=lambda t: tuple(repr(x) for x in t),
    )


def _portability_lint(name, sql, s_data, d_data, con):
    """Driver-environment hazards the value compare can't see.

    The driver's hasher is stricter than this harness's canonicalized
    compare: CORRECTNESS_r07 proved it distinguishes DuckDB HUGEINT
    (uncast SUM(integer)) from BIGINT, and -0.0 from 0.0 — all 10 r7
    hash-fails had exactly one of those two, every green had neither.
    Flag them here so they die before a driver round does.
    """
    warns = []
    try:
        types = [str(t) for t in con.sql(sql).types]
        huge = [i for i, t in enumerate(types) if "HUGEINT" in t]
        if huge:
            warns.append(f"oracle HUGEINT col(s) {huge} — CAST(.. AS BIGINT)")
        dec = [i for i, t in enumerate(types) if t.startswith("DECIMAL")]
        if dec:
            warns.append(f"oracle DECIMAL col(s) {dec} — cast to DOUBLE/BIGINT")
    except Exception:
        pass
    for side, data in (("spark", s_data), ("oracle", d_data)):
        for r in data:
            for i, v in enumerate(r):
                if isinstance(v, float) and v == 0.0 and math.copysign(1, v) < 0:
                    warns.append(f"{side} col {i} emits -0.0")
                    break
            else:
                continue
            break
    return warns


def check_query(name, fn, sql, spark, con, sf_dir):
    sdf = fn(spark, sf_dir)
    s_cols = sdf.columns
    s_data = [tuple(r) for r in sdf.collect()]
    d = con.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_data = d.fetchall()

    for w in _portability_lint(name, sql, s_data, d_data, con):
        print(f"  {name:28s} WARN {w}")
    if sorted(s_cols) != sorted(d_cols):
        return False, f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_data) != len(d_data):
        return False, f"row count differs: spark={len(s_data)} duck={len(d_data)}"
    sr, dr = _rows(s_cols, s_data), _rows(d_cols, d_data)
    if sr != dr:
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
        return False, f"values differ; first diffs: {diffs}"
    return True, f"OK ({len(s_data)} rows)"


def codegen_line(spark) -> str:
    """Janino compilations and their total seconds in this JVM so far.

    A sweep that recompiles more than its distinct generated sources is
    evicting classes from Spark's codegen cache
    (``spark.sql.codegen.cache.maxEntries``)."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return f"codegen: {n} Janino compilations, {ns / 1e9:.2f} s compiling"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # the checkout root goes on the driver's sys.path and, before the
    # session starts, on PYTHONPATH, so Python workers import the package
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as e
    from spark_sklearn_spark.session import createLocalSparkSession

    spark = createLocalSparkSession("check")
    con = duck_con(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()

    n_ok = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                status = f"rows-only ({n} rows)" if n > 0 else "rows-only EMPTY"
                n_rows_only += 1
            except Exception as ex:
                status = f"rows-only ERROR: {ex}"
                n_fail += 1
            print(f"  {name:28s} {status}")
            continue
        try:
            ok, msg = check_query(name, fn, oracles[name], spark, con, sf_dir)
        except Exception as ex:
            ok, msg = False, f"ERROR: {type(ex).__name__}: {str(ex)[:300]}"
        print(f"  {name:28s} {'PASS' if ok else 'FAIL'} {msg}")
        n_ok += ok
        n_fail += not ok
    print(f"\n{n_ok} declared PASS, {n_fail} FAIL, {n_rows_only} rows-only")
    print(codegen_line(spark))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
