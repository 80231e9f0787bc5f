"""Round-17 value-identity gates for the restructured operators (the
multi-column ntile must assign exactly the tiles the sequential form
assigns; the distinct-gram MinHash signature must equal the exploded
form's minima). The r17 driver-window rotation pins are retired —
tests/test_round18.py pins the live window.
"""

from __future__ import annotations


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


def test_distinct_gram_minhash_matches_exploded(spark):
    """_mh_capped_and_bands' two signature forms — the 16x posting
    explode and the per-distinct-gram lsh.min_signature — must give
    the same (doc_id, band, h0, h1) rows."""
    from spark_sklearn_spark.queries.pipeline8 import (
        MH_K,
        MH_R,
        _mh_capped_and_bands,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y z"), (3, "x y z a b"),
         (4, "x y z"), (5, "too short")],
        "doc_id long, text string",
    )

    def bands(form):
        b = _mh_capped_and_bands(spark, None, docs=docs, form=form)[1]
        return {
            tuple(r) for r in b.select("doc_id", "band", "h0", "h1").collect()
        }

    exploded = bands("explode")
    assert len(exploded) == 4 * (MH_K // MH_R)
    assert exploded == bands("array")
