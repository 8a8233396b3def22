"""Observability surfaces: side-effect batch metrics (no second action)
and streaming progress collection."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from hadoop_pyspark_streaming_analytics_spark.monitoring import (
    ProgressCollector,
    observed,
)
from hadoop_pyspark_streaming_analytics_spark.operators.relational import retail_base
from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table


def test_observed_metrics_ride_the_existing_action(spark, sf_dir):
    """The observation must report the SAME cardinality/aggregates the
    action computed — without issuing a second job."""
    base = retail_base(spark, sf_dir)
    # NOTE: observed metrics must be MERGEABLE aggregates (computed as rows
    # stream by) — DISTINCT is rejected by the engine; approx_count_distinct
    # (HLL, mergeable) is the supported spelling.
    df, obs = observed(
        base,
        "retail_base_metrics",
        F.count(F.lit(1)).alias("rows"),
        F.round(F.sum("amount") + F.lit(1e-6), 2).alias("amount_total"),
        F.approx_count_distinct("c_custkey").alias("customers_approx"),
    )
    collected = df.collect()
    m = obs.get
    assert m["rows"] == len(collected)
    exact = len({r["c_custkey"] for r in collected})
    assert abs(m["customers_approx"] - exact) <= max(3, 0.05 * exact)
    assert m["amount_total"] == round(
        sum(r["amount"] for r in collected) + 1e-6, 2
    )


def test_observed_default_metric_is_row_count(spark, sf_dir):
    df, obs = observed(load_table(spark, sf_dir, "region"), "regions")
    n = df.count()
    assert obs.get["rows"] == n > 0


def test_streaming_progress_collector_counts_input_rows(spark, tmp_path):
    """The listener must see every input row across micro-batches."""
    import json
    import os

    from hadoop_pyspark_streaming_analytics_spark.sources.readers import (
        read_sensor_stream,
    )
    from hadoop_pyspark_streaming_analytics_spark.streaming.queries import (
        running_sensor_stats,
        with_event_time,
    )

    watch = str(tmp_path / "obs_sensors")
    os.makedirs(watch, exist_ok=True)
    rows = [
        {"sensor_id": f"S{i % 3}", "temperature": 20.0 + i,
         "timestamp": f"2024-01-16T00:0{i}:00"}
        for i in range(8)
    ]
    with open(f"{watch}/b0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        stream = with_event_time(read_sensor_stream(spark, watch))
        q = (
            running_sensor_stats(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("obs_stats")
            .start()
        )
        try:
            q.processAllAvailable()
            # listener events are delivered asynchronously
            deadline = time.time() + 30
            while collector.total_input_rows < len(rows) and time.time() < deadline:
                time.sleep(0.2)
            assert collector.total_input_rows == len(rows)
            assert all(bid >= 0 for bid, _ in collector.batches)
        finally:
            q.stop()
    finally:
        spark.streams.removeListener(collector)


def test_headline_job_counts_are_pinned(spark, sf_dir):
    """Job counts do not drift with the host, so they are the regression
    signal the bench payload's ``queries_ledger`` records.  Pin four of
    them: a streaming-twin window rollup, a join/aggregate report, the LSH
    candidate pass and the iterative components loop.  A change that adds
    or removes a Spark job from one of these queries must update the pin
    on purpose."""
    from perfbench.probes import Ledger

    from hadoop_pyspark_streaming_analytics_spark.plans.catalog import get

    assert spark.streams.active == []  # a live stream would add jobs
    ledger = Ledger(spark)
    jobs = {}
    for name in (
        "events_tumbling_5min",
        "q2a_customer_summary",
        "dedup_minhash_lsh",
        "dedup_components",
    ):
        get(name).builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        jobs[name] = ledger.collect()["jobs"]
    assert jobs == {
        "events_tumbling_5min": 3,
        "q2a_customer_summary": 10,
        "dedup_minhash_lsh": 6,
        "dedup_components": 27,
    }
