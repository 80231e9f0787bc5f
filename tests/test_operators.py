"""Operator unit/property tests, mirroring the reference's style
(SURVEY.md §5.1): randomized inputs compared against a local
pandas/numpy oracle — gapply vs pandas groupby-apply, asof tie-break
pinning, band join vs naive join, distributed ntile vs the native
window function, salting determinism.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Window, functions as F

from spark_sklearn_spark.operators.asof import asof_join
from spark_sklearn_spark.operators.band_join import band_join_less_than
from spark_sklearn_spark.operators.gapply import gapply
from spark_sklearn_spark.operators.ranking import distributed_ntile
from spark_sklearn_spark.operators.salting import salted_join, with_salt


def test_gapply_matches_pandas_oracle(spark):
    """Random groups through gapply == the same function applied by
    pandas groupby — the reference's own differential test pattern."""
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 200),
            "v": rng.rand(200) * 100,
        }
    )
    df = spark.createDataFrame(pdf)

    def center(key, g):
        return pd.DataFrame({"k": key[0], "v_centered": g["v"] - g["v"].mean()})

    got = (
        gapply(df, "k", center, "k long, v_centered double", "v")
        .toPandas()
        .sort_values(["k", "v_centered"])
        .reset_index(drop=True)
    )
    want = (
        pdf.groupby("k")
        .apply(lambda g: pd.DataFrame({"k": g.name, "v_centered": g["v"] - g["v"].mean()}))
        .reset_index(drop=True)
        .sort_values(["k", "v_centered"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


def test_gapply_rejects_non_schema(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1.0]}))
    with pytest.raises(TypeError, match="StructType or DDL string"):
        gapply(df, "k", lambda key, g: g, ["k", "v"])


def test_asof_tiebreak_picks_greatest(spark):
    """Two right rows at the identical timestamp: the greater tiebreak
    (event_id) must win — pinned semantics, not partition luck."""
    left = spark.createDataFrame(
        [(1, 100)], "k bigint, t bigint"
    ).select("k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"))
    right = spark.createDataFrame(
        [(1, 100, 10, "first"), (1, 100, 20, "second"), (1, 99, 30, "older")],
        "k bigint, t bigint, rid bigint, tag string",
    ).select("k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "rid", "tag")
    out = asof_join(
        left, right, on="k", ts="ts", value_cols=["tag"], tiebreak="rid"
    ).collect()
    assert len(out) == 1
    assert out[0]["asof_tag"] == "second"


def _asof_fixture(spark):
    """One key, left rows at t=100 and t=205; right rows at 90, 100,
    150, 150 (tie), 210 — crafted so backward/forward/nearest and the
    strict mode all pick DIFFERENT rows."""
    left = spark.createDataFrame(
        [(1, 100), (1, 205)], "k bigint, t bigint"
    ).select("k", "t", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"))
    right = spark.createDataFrame(
        [(1, 90, 1, "r90"), (1, 100, 2, "r100"), (1, 150, 3, "r150a"),
         (1, 150, 4, "r150b"), (1, 210, 5, "r210")],
        "k bigint, t bigint, rid bigint, tag string",
    ).select("k", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "rid", "tag")
    return left, right


def _asof_tags(left, right, **kw):
    out = asof_join(left, right, on="k", ts="ts", value_cols=["tag"],
                    tiebreak="rid", **kw)
    return {r["t"]: r["asof_tag"] for r in out.collect()}


def test_asof_forward_picks_earliest_at_or_after(spark):
    left, right = _asof_fixture(spark)
    got = _asof_tags(left, right, direction="forward")
    # t=100: exact match wins; t=205: earliest later row is 210
    assert got == {100: "r100", 205: "r210"}


def test_asof_forward_strict_skips_exact_match(spark):
    left, right = _asof_fixture(spark)
    got = _asof_tags(left, right, direction="forward", allow_exact_matches=False)
    # t=100: exact match excluded -> next is the 150 tie, greatest rid wins
    assert got == {100: "r150b", 205: "r210"}


def test_asof_backward_strict_skips_exact_match(spark):
    left, right = _asof_fixture(spark)
    got = _asof_tags(left, right, allow_exact_matches=False)
    assert got == {100: "r90", 205: "r150b"}


def test_asof_nearest_prefers_backward_on_equal_distance(spark):
    left, right = _asof_fixture(spark)
    got = _asof_tags(left, right, direction="nearest")
    # t=100: exact match (d=0); t=205: backward 150 is d=55, forward 210
    # is d=5 -> forward wins; equal-distance case pinned separately
    assert got == {100: "r100", 205: "r210"}
    # equal distance: left at 125 sits exactly between 100 and 150 ->
    # backward match (r100) must win per the documented tie rule
    mid = left.limit(0).sparkSession.createDataFrame(
        [(1, 125)], "k bigint, t bigint"
    ).select("k", "t", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"))
    assert _asof_tags(mid, right, direction="nearest") == {125: "r100"}


def test_asof_nearest_one_sided_when_no_forward_match(spark):
    left, right = _asof_fixture(spark)
    far = spark.createDataFrame(
        [(1, 500), (1, 10)], "k bigint, t bigint"
    ).select("k", "t", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"))
    got = _asof_tags(far, right, direction="nearest")
    # t=500 has no forward candidate -> backward 210; t=10 has no
    # backward candidate -> forward 90
    assert got == {500: "r210", 10: "r90"}


def test_asof_nearest_date_and_bigint_ts(spark):
    """nearest over DATE and bigint ts columns (ADVICE r3: the double
    cast fallback silently narrowed the ts domain) — integer-unit
    distance math in days / raw longs, equal-distance tie -> backward."""
    # DATE: left 2024-01-11 sits 10 days from both right rows
    left_d = spark.sql(
        "select 1 as k, date'2024-01-11' as ts"
    )
    right_d = spark.sql(
        "select 1 as k, date'2024-01-01' as ts, 1 as rid, 'jan1' as tag "
        "union all select 1, date'2024-01-21', 2, 'jan21'"
    )
    out = asof_join(left_d, right_d, on="k", ts="ts", value_cols=["tag"],
                    tiebreak="rid", direction="nearest").collect()
    assert out[0]["asof_tag"] == "jan1"
    # bigint beyond 2^53: double math would see d_b == d_f == 0 wrongly
    base = 1 << 60
    left_i = spark.createDataFrame([(1, base + 3)], "k bigint, ts bigint")
    right_i = spark.createDataFrame(
        [(1, base, 1, "lo"), (1, base + 4, 2, "hi")],
        "k bigint, ts bigint, rid bigint, tag string",
    )
    out = asof_join(left_i, right_i, on="k", ts="ts", value_cols=["tag"],
                    tiebreak="rid", direction="nearest").collect()
    assert out[0]["asof_tag"] == "hi"  # d_f=1 < d_b=3 — long math required


def test_asof_nearest_rejects_string_ts(spark):
    left = spark.createDataFrame([(1, "a")], "k bigint, ts string")
    right = spark.createDataFrame([(1, "a", 1, "x")],
                                  "k bigint, ts string, rid bigint, tag string")
    with pytest.raises(TypeError, match="nearest"):
        asof_join(left, right, on="k", ts="ts", value_cols=["tag"],
                  tiebreak="rid", direction="nearest")


def test_asof_rejects_non_integer_tiebreak(spark):
    left = spark.createDataFrame([(1, 1)], "k bigint, ts bigint")
    right = spark.createDataFrame([(1, 1, "x")], "k bigint, ts bigint, tag string")
    with pytest.raises(TypeError, match="tiebreak"):
        asof_join(left, right, on="k", ts="ts", value_cols=["tag"], tiebreak="tag")


def test_band_join_matches_naive(spark):
    """Band join over random values == the naive inequality join,
    including values outside the declared [lo, hi) domain (clamping)."""
    rng = np.random.RandomState(11)
    a = pd.DataFrame({"ida": range(80), "va": rng.rand(80) * 120 - 10})
    b = pd.DataFrame({"idb": range(80), "vb": rng.rand(80) * 120 - 10})
    da, db = spark.createDataFrame(a), spark.createDataFrame(b)
    got = (
        band_join_less_than(da, db, "va", "vb", lo=0.0, hi=100.0, width=10.0)
        .select("ida", "idb")
        .toPandas()
        .sort_values(["ida", "idb"])
        .reset_index(drop=True)
    )
    want = (
        a.merge(b, how="cross")
        .query("va < vb")[["ida", "idb"]]
        .sort_values(["ida", "idb"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_distributed_ntile_matches_window_ntile(spark):
    rng = np.random.RandomState(13)
    pdf = pd.DataFrame({"id": range(503), "v": rng.rand(503) * 50})
    # inject ties to exercise the tiebreak path
    pdf.loc[10:30, "v"] = 7.5
    df = spark.createDataFrame(pdf)
    got = distributed_ntile(df, "v", ["id"], 4, buckets=16, out_col="q")
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.select("id", F.ntile(4).over(w).cast("long").alias("q"))
    diff = got.select("id", "q").exceptAll(want).count()
    assert diff == 0


def test_salt_is_content_deterministic(spark):
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    s1 = with_salt(df, 8, ["id"]).select("id", "__salt").toPandas()
    s2 = (
        with_salt(df.repartition(13), 8, ["id"])
        .select("id", "__salt")
        .toPandas()
    )
    merged = s1.merge(s2, on="id", suffixes=("_a", "_b"))
    assert (merged["__salt_a"] == merged["__salt_b"]).all()


def test_salted_join_matches_plain_join(spark):
    big = spark.range(2000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("payload")
    )
    small = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "unmatched")], "k bigint, tag string"
    )
    got = salted_join(big, small, "k", buckets=4, salt_from=["payload"]).count()
    want = big.join(small, "k").count()
    assert got == want


def test_salted_join_rejects_outer(spark):
    big = spark.range(10).select(F.col("id").alias("k"))
    small = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="inner"):
        salted_join(big, small, "k", buckets=2, salt_from=["k"], how="full")


def test_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    """SURVEY §2B 'sink: parquet write' — write partitioned, read back,
    verify row count and partition pruning survive the round trip."""
    from spark_sklearn_spark.sources.io import load, write_parquet

    out = str(tmp_path / "orders_out")
    src = load(spark, sf_dir, "orders")
    write_parquet(src, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join with
    no Exchange on either input — the co-located-join contract."""
    from spark_sklearn_spark.sources.io import load, write_bucketed

    write_bucketed(
        load(spark, sf_dir, "orders"), "b_orders", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        load(spark, sf_dir, "lineitem"), "b_lineitem", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"], path=str(tmp_path / "b_lineitem"),
    )
    o = spark.table("b_orders")
    li = spark.table("b_lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(li, o.o_orderkey == li.l_orderkey).select(
            "o_orderkey", "l_linenumber"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_distributed_ntile_handles_nulls(spark):
    """NULL ranking values must rank first (Spark ASC NULLS FIRST),
    not crash the histogram pass."""
    pdf = pd.DataFrame({"id": range(40), "v": [None] * 5 + list(range(35))})
    df = spark.createDataFrame(pdf, "id long, v double")
    got = distributed_ntile(df, "v", ["id"], 4, buckets=4, out_col="q")
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.select("id", F.ntile(4).over(w).cast("long").alias("q"))
    assert got.select("id", "q").exceptAll(want).count() == 0


def test_sq_dist_exact_at_quantization_scale(spark):
    """sq_dist is the integer fold every quantized-embedding query
    ranks on: at the KM_Q = 1e6 scale (components floor(x*1e6) for
    x in [-1, 1), so negatives included) it must equal numpy's
    int64 ((a - b) ** 2).sum() exactly — no float step anywhere."""
    from spark_sklearn_spark.functions.vectors import sq_dist
    from spark_sklearn_spark.queries.fits import KM_DIM, KM_Q

    rng = np.random.RandomState(11)
    a = np.floor(rng.uniform(-1.0, 1.0, (40, KM_DIM)) * KM_Q).astype(np.int64)
    b = np.floor(rng.uniform(-1.0, 1.0, (40, KM_DIM)) * KM_Q).astype(np.int64)
    b[0] = a[0]  # identical vectors: distance 0
    b[1] = -a[1]  # sign flip: the largest per-component terms
    rows = [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))]
    df = spark.createDataFrame(rows, "id long, a array<bigint>, b array<bigint>")
    got = dict(df.select("id", sq_dist("a", "b").alias("d2")).collect())
    want = ((a - b) ** 2).sum(axis=1)
    assert (a < 0).any() and (b < 0).any()
    assert got == {i: int(want[i]) for i in range(len(a))}
    assert got[0] == 0


def test_multi_ntile_matches_sequential(spark):
    """multi_distributed_ntile must assign exactly the tiles three
    sequential distributed_ntile calls assign (the q_behavior_rfm
    rewrite's identity argument)."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.operators.ranking import (
        distributed_ntile,
        multi_distributed_ntile,
    )

    df = spark.range(0, 97).select(
        F.col("id").alias("k"),
        (F.col("id") * 37 % 11).alias("a"),
        (F.col("id") * 13 % 7).alias("b"),
    )
    seq = distributed_ntile(df, "a", ["k"], 4, out_col="ta")
    seq = distributed_ntile(seq, "b", ["k"], 4, out_col="tb")
    multi = multi_distributed_ntile(df, [("a", "ta"), ("b", "tb")], ["k"], 4)
    left = {tuple(r) for r in seq.select("k", "ta", "tb").collect()}
    right = {tuple(r) for r in multi.select("k", "ta", "tb").collect()}
    assert left == right
