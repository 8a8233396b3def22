"""The session factory's shuffle-partition default."""

from __future__ import annotations

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
