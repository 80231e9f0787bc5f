"""Dump `explain('formatted')` for the named queries to files.

Usage: python tools/dump_query_plans.py <out_dir> <suffix> <query...>

Writes <out_dir>/<query>_<suffix>.txt for each query. Used for the
optimization-round before/after plan evidence (plans/r17/).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    # the checkout root goes on the driver's sys.path and, before the
    # session starts, on PYTHONPATH, so Python workers import the package
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as e
    from spark_sklearn_spark.session import createLocalSparkSession

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = createLocalSparkSession("dump_query_plans", 8)
    os.makedirs(out_dir, exist_ok=True)
    qs = e.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        # a key that persists a relation would otherwise hand its cached
        # plan to every later key with the same subtree (bench.py clears
        # between queries too)
        spark.catalog.clearCache()
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
