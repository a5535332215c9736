"""The session conf the engine recommends (`recommended_session_conf`),
checked in the suite's own session, which is built with it."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _compiles(spark) -> int:
    """Classes the driver has compiled so far: Spark's codegen metrics,
    read on the driver with no job."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_repetition_of_many_classes(spark):
    # 150 union branches, each its own whole-stage class: an int literal
    # is inlined into the generated code, so each branch's code differs.
    # Spark's default cache (100 entries, LRU) would evict every class
    # before the second run needs it and compile all 150 again
    def run():
        branches = [
            spark.range(1, numPartitions=1).select(
                (F.col("id") * 3 + (9_731_000 + i)).alias("v")
            )
            for i in range(150)
        ]
        return reduce(DataFrame.unionByName, branches).collect()

    before = _compiles(spark)
    first = run()
    mid = _compiles(spark)
    second = run()
    after = _compiles(spark)

    assert first == second
    assert mid - before >= 150
    assert after - mid <= 5
