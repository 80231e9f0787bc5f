"""Engine settings pinned by ``session.createLocalSparkSession``."""

from __future__ import annotations


def _compilations(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_repeated_working_set(spark):
    """150 distinct whole-stage-codegen stages, run twice in the same
    order, are compiled once: the second round finds every generated
    class in Spark's codegen cache. At Spark's default of 100 cached
    classes the cycle evicts each class before its reuse, and the
    second round recompiles them all."""

    def run_round():
        for i in range(1, 151):
            spark.range(4).selectExpr(f"id * {i} + {i} AS v").collect()

    before = _compilations(spark)
    run_round()
    first = _compilations(spark)
    run_round()
    recompiled = _compilations(spark) - first
    assert first > before  # the counter sees this JVM's compilations
    assert recompiled == 0
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
