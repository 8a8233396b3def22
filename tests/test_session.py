"""The session factory's defaults: shuffle partitions and codegen cache."""

from __future__ import annotations

from hadoop_pyspark_streaming_analytics_spark.monitoring import codegen_compiles
from hadoop_pyspark_streaming_analytics_spark.session import get_spark


def test_default_shuffle_partitions_follow_parallelism(spark):
    """Unpinned, the initial shuffle partition count (and so a new stateful
    query's state-store count) is one per core of the live context."""
    try:
        assert get_spark() is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            spark.sparkContext.defaultParallelism
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_repeated_queries_reuse_compiled_classes(spark):
    """A cycle of plans whose classes overflow Spark's 100-entry codegen
    cache compiles nothing on its second pass: the cache holds the
    session's working set instead of thrashing."""
    assert not spark.streams.active  # nothing else may compile meanwhile
    queries = [f"id + {k} AS x" for k in range(75)]  # ~2 classes each

    def run_all() -> None:
        for q in queries:
            spark.range(1).selectExpr(q).collect()

    run_all()
    before = codegen_compiles(spark)
    run_all()
    assert codegen_compiles(spark) - before == 0
