"""Session defaults set by ``session.get_spark``."""

import pyspark.sql.functions as F


def test_codegen_cache_keeps_a_warm_working_set(spark):
    """Re-running 120 distinct small projections compiles no class: the
    generated-class cache holds them all. At Spark's default of 100
    entries (Guava segments of ~25 that evict independently) the second
    round recompiled every class."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def run_round():
        before = compiled.getCount()
        for i in range(120):
            spark.range(3).select((F.col("id") * i + 7).alias("x")).collect()
        return compiled.getCount() - before

    assert run_round() >= 120  # every projection generated its own class
    assert run_round() == 0
