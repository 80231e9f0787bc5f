"""Record the expected fingerprint of every workload key.

Usage (from the checkout root):
    python3 perfbench/record.py [oracle_timeout_s]

Runs each key of every workload in spec.json on two fresh paths over
the benchmark fixture and requires both fingerprints to agree. Keys
with a DuckDB oracle (``oracle_sql()``) are then compared with it by
``tools/check.py``'s value comparison:

- ``oracle``: the oracle finished and matched; the hash is checked.
- ``seed-recorded``: the oracle did not finish within the timeout
  (the quadratic dedup oracles); the hash recorded here is checked.
- ``rows-only``: the key has no oracle; only the row count is checked.

A key whose oracle disagrees, or whose two runs disagree, is printed
and not written: fix the program before recording. Writes
``perfbench/expected.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

import run


def main() -> int:
    timeout = float(sys.argv[1]) if len(sys.argv) > 1 else 120.0
    spec = run.load_json("spec.json")
    os.chdir(run.ROOT)
    run.pin_env(spec)
    sys.path.insert(0, os.path.join(run.ROOT, "tools"))
    import check
    from spark_sklearn_spark import registry
    from spark_sklearn_spark.session import createLocalSparkSession

    fixture = run.ensure_fixture(spec)
    spark = createLocalSparkSession("perfbench-record")
    registry.load_all()
    con = check.duck_con(fixture)
    out, bad = {}, []
    keys = [k for w in spec["workloads"].values() for k in w["keys"]]
    for i, key in enumerate(keys):
        fn = registry.QUERIES[key]
        fps = []
        for rep in range(2):
            tag = f"rec{i}r{rep}"
            path = run.fresh_path(fixture, tag)
            fps.append(run.fingerprint_of(run.fingerprint_df(fn(spark, path)).collect()[0]))
            spark.catalog.clearCache()
            run.drop_path(tag)
        if fps[0] != fps[1]:
            bad.append(f"{key}: runs disagree {fps}")
            continue
        sql = registry.ORACLES.get(key)
        if sql is None:
            source, check_kind = "rows-only", "rows"
        else:
            timer = threading.Timer(timeout, con.interrupt)
            timer.start()
            try:
                ok, msg = check.check_query(key, fn, sql, spark, con, fixture)
                source = "oracle"
            except Exception as ex:  # duckdb interrupt: oracle too slow
                ok, msg, source = True, f"oracle unfinished ({type(ex).__name__})", "seed-recorded"
            finally:
                timer.cancel()
                spark.catalog.clearCache()
            if not ok:
                bad.append(f"{key}: oracle mismatch: {msg}")
                continue
            check_kind = "hash"
        out[key] = {**fps[0], "check": check_kind, "source": source}
        print(f"{key:32s} {source:14s} {fps[0]}", flush=True)
    spark.stop()
    shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    for b in bad:
        print(f"NOT RECORDED {b}", file=sys.stderr)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
