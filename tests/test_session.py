"""Tests: the engine session's fixed configuration."""

from pyspark.sql import functions as F


def _compiles(spark) -> int:
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def test_generated_classes_are_reused_across_a_repeated_sweep(spark):
    # each projection inlines its own literal, so each query generates its
    # own classes (about two): 60 queries need more than Spark's default
    # cache of 100 entries, where the second pass recompiled 25 of 120
    sweep = [spark.range(4).select((F.col("id") * F.lit(k)).alias("v")) for k in range(60)]

    c0 = _compiles(spark)
    first = [df.collect() for df in sweep]
    c1 = _compiles(spark)
    second = [df.collect() for df in sweep]
    c2 = _compiles(spark)

    assert c1 - c0 > 100
    assert c2 - c1 == 0
    assert second == first


def test_dataframe_debugging_is_off(spark):
    # with it on, every PySpark API call also captures its Python call site
    # over py4j; the flag is cached per process, so re-read it here
    from pyspark.errors import utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    utils._enable_debugging_cache = None
    assert utils.is_debugging_enabled() is False
