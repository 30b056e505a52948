"""Session-level settings of `session.build_session` that a plan cannot
pin: the generated-class cache must hold the engine's working set."""

from __future__ import annotations

from pyspark.sql import functions as F


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_working_set_above_sparks_default(spark):
    """Spark's default cache keeps 100 generated classes, least recently
    used first out. A steady workload whose pass needs more than that
    recompiles every class on every pass. 150 distinct tiny plans (the
    inlined literal makes each generated class distinct) run twice in
    the same order: the second pass must compile nothing."""
    plans = [
        spark.range(2, numPartitions=1).select((F.col("id") * 7 + i).alias("x"))
        for i in range(150)
    ]
    for df in plans:
        df.collect()
    before = _compiles(spark)
    for df in plans:
        df.collect()
    assert _compiles(spark) - before == 0
