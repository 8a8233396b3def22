"""Structured Streaming tests (SURVEY.md §2.10 T1-T8, §5 streaming strategy):
file source + memory sink + processAllAvailable for deterministic batches —
mirroring the committed Batch 0/Batch 1 tables in q4_streaming.ipynb."""

from __future__ import annotations

import json

import pytest

from hadoop_pyspark_streaming_analytics_spark.sources.readers import (
    SENSOR_SCHEMA,
    read_sensor_stream,
)
from hadoop_pyspark_streaming_analytics_spark.streaming.harness import (
    MemorySinkRun,
    write_json_batch,
)
from hadoop_pyspark_streaming_analytics_spark.streaming.queries import (
    running_sensor_stats,
    sliding_window_max,
    stop_all_queries,
    tumbling_window_stats,
    with_event_time,
)

BATCH0 = [
    {"sensor_id": "S001", "temperature": 70.0, "timestamp": "2024-01-16T00:05:10"},
    {"sensor_id": "S001", "temperature": 74.0, "timestamp": "2024-01-16T00:06:40"},
    {"sensor_id": "S002", "temperature": 60.0, "timestamp": "2024-01-16T00:07:00"},
    # out-of-order within the file (FIXTURES.md §3)
    {"sensor_id": "S002", "temperature": 62.0, "timestamp": "2024-01-16T00:05:30"},
    # unparseable timestamp — must be dropped by with_event_time (q4:47)
    {"sensor_id": "S003", "temperature": 99.0, "timestamp": "not-a-time"},
]

BATCH1 = [
    {"sensor_id": "S001", "temperature": 80.0, "timestamp": "2024-01-16T00:21:00"},
    {"sensor_id": "S002", "temperature": 64.0, "timestamp": "2024-01-16T00:23:30"},
    # Watermark after batch 0 = max(00:07:00) - 2 min = 00:05:00.  This
    # 00:04:30 event's window [00:00, 00:05) has end <= watermark → dropped
    # by watermarked windowed aggs, KEPT by the unwatermarked running agg
    # (q4:51-59 vs :71).
    {"sensor_id": "S001", "temperature": 100.0, "timestamp": "2024-01-16T00:04:30"},
]


@pytest.fixture()
def watch_dir(tmp_path):
    return str(tmp_path / "sensor_input")


def _start(spark, watch_dir, build, output_mode="update"):
    stream = with_event_time(read_sensor_stream(spark, watch_dir, max_files_per_trigger=1))
    return MemorySinkRun(spark, build(stream), output_mode=output_mode)


def test_running_stats_unwatermarked_accepts_late(spark, watch_dir):
    write_json_batch(watch_dir, BATCH0, 0)
    run = _start(spark, watch_dir, lambda s: running_sensor_stats(s))
    try:
        run.process_all()
        write_json_batch(watch_dir, BATCH1, 1)
        run.process_all()
        # update mode: take the LAST emitted row per sensor
        rows = {
            r["sensor_id"]: r
            for r in run.table().collect()  # appended in batch order
        }
        s1 = rows["S001"]
        # late 100.0 reading IS included (no watermark): 70,74,100,80
        assert s1["reading_count"] == 4
        assert s1["max_value"] == 100.0
        assert s1["avg_value"] == pytest.approx(81.0)
        assert rows["S002"]["reading_count"] == 3
        # unparseable-timestamp row never appears
        assert "S003" not in rows
    finally:
        run.stop()


def test_tumbling_window_drops_late_beyond_watermark(spark, watch_dir):
    write_json_batch(watch_dir, BATCH0, 0)
    run = _start(spark, watch_dir, lambda s: tumbling_window_stats(s))
    try:
        run.process_all()
        write_json_batch(watch_dir, BATCH1, 1)
        run.process_all()
        latest = {}
        for r in run.table().collect():
            latest[r["window_start"].isoformat()] = r
        w05 = latest["2024-01-16T00:05:00"]
        # batch 0 put 4 valid readings in the 00:05 window
        # (00:05:10/00:06:40/00:07/00:05:30)
        assert w05["reading_count"] == 4
        assert w05["avg_value"] == pytest.approx(66.5)
        assert latest["2024-01-16T00:20:00"]["reading_count"] == 2
        # the late 00:04:30 event's window was below the watermark → never
        # emitted at all
        assert "2024-01-16T00:00:00" not in latest
    finally:
        run.stop()


def test_sliding_windows_overlap(spark, watch_dir):
    write_json_batch(watch_dir, BATCH0, 0)
    run = _start(spark, watch_dir, lambda s: sliding_window_max(s))
    try:
        run.process_all()
        rows = run.table().collect()
        # every event lands in exactly 2 sliding windows (10 min / 5 min)
        s1 = [r for r in rows if r["sensor_id"] == "S001"]
        starts = sorted(r["window_start"].isoformat() for r in s1)
        assert starts == ["2024-01-16T00:00:00", "2024-01-16T00:05:00"]
        for r in s1:
            assert r["max_value"] == 74.0
            assert r["reading_count"] == 2
    finally:
        run.stop()


def test_multi_query_concurrency_and_lifecycle(spark, watch_dir):
    """T7/T8 (q4:61-123 + cell 3): three concurrent queries over ONE source
    directory, then enumerate-and-stop."""
    write_json_batch(watch_dir, BATCH0, 0)
    runs = [
        _start(spark, watch_dir, lambda s: running_sensor_stats(s)),
        _start(spark, watch_dir, lambda s: tumbling_window_stats(s)),
        _start(spark, watch_dir, lambda s: sliding_window_max(s)),
    ]
    try:
        for r in runs:
            r.process_all()
        assert len(spark.streams.active) >= 3
        for r in runs:
            assert r.table().count() > 0
    finally:
        stop_all_queries(spark)
    assert len(spark.streams.active) == 0


def test_stream_batch_equivalence(spark, watch_dir):
    """The same builder compiled over the batched union of all files equals
    the final streaming state (complete-mode run)."""
    write_json_batch(watch_dir, BATCH0, 0)
    write_json_batch(watch_dir, BATCH1, 1)
    run = _start(spark, watch_dir, lambda s: running_sensor_stats(s), "complete")
    try:
        run.process_all()
        got = {
            (r["sensor_id"], r["reading_count"], r["avg_value"])
            for r in run.table().collect()
        }
        batch_df = with_event_time(
            spark.read.schema("sensor_id string, temperature double, timestamp string").json(
                watch_dir
            )
        )
        want = {
            (r["sensor_id"], r["reading_count"], r["avg_value"])
            for r in running_sensor_stats(batch_df).collect()
        }
        assert got == want
    finally:
        run.stop()


def test_restart_keeps_checkpointed_state_partitions(spark, watch_dir, tmp_path):
    """A stateful query keeps the shuffle partition count recorded in its
    checkpoint's offset log, so changing the session default never
    re-partitions existing state: restarted at 3 partitions, a query first
    started at 8 still runs 8 state stores and its result stays exact."""

    def start():
        stream = with_event_time(read_sensor_stream(spark, watch_dir, max_files_per_trigger=1))
        return (
            running_sensor_stats(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("ckpt_restart")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    write_json_batch(watch_dir, BATCH0, 0)
    query = start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    write_json_batch(watch_dir, BATCH1, 1)
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        query = start()
        try:
            query.processAllAvailable()
            progress = json.loads(query.lastProgress.json)
            got = {tuple(r) for r in spark.table("ckpt_restart").collect()}
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert progress["batchId"] == 1
    assert [op["numStateStoreInstances"] for op in progress["stateOperators"]] == [8]
    batch_df = with_event_time(spark.read.schema(SENSOR_SCHEMA).json(watch_dir))
    assert got == {tuple(r) for r in running_sensor_stats(batch_df).collect()}


def test_session_window_merges_within_gap(spark, watch_dir):
    """session_window: events within the gap merge per key; a gap larger
    than 10 minutes opens a new session.  Streaming session windows only
    support append mode — a session is emitted exactly once, after the
    watermark passes its end."""
    from hadoop_pyspark_streaming_analytics_spark.streaming.queries import (
        session_window_stats,
    )

    b0 = [
        {"sensor_id": "S001", "temperature": 1.0, "timestamp": "2024-01-16T00:00:00"},
        {"sensor_id": "S001", "temperature": 2.0, "timestamp": "2024-01-16T00:05:00"},
        {"sensor_id": "S002", "temperature": 9.0, "timestamp": "2024-01-16T00:00:00"},
    ]
    # 00:05 + 10min gap = 00:15 — 00:20 starts a NEW S001 session; it also
    # advances the watermark to 00:18, finalizing both batch-0 sessions.
    b1 = [
        {"sensor_id": "S001", "temperature": 4.0, "timestamp": "2024-01-16T00:20:00"},
    ]
    # Advances the watermark to 00:38 > 00:30, flushing the 00:20 session.
    b2 = [
        {"sensor_id": "S002", "temperature": 7.0, "timestamp": "2024-01-16T00:40:00"},
    ]
    write_json_batch(watch_dir, b0, 0)
    run = _start(
        spark,
        watch_dir,
        lambda s: session_window_stats(s, gap="10 minutes"),
        output_mode="append",
    )
    try:
        run.process_all()
        write_json_batch(watch_dir, b1, 1)
        run.process_all()
        write_json_batch(watch_dir, b2, 2)
        run.process_all()
        sessions = sorted(
            run.table().collect(), key=lambda r: (r["sensor_id"], r["session_start"])
        )
        assert [(r["sensor_id"], r["n_events"], r["total_value"]) for r in sessions] == [
            ("S001", 2, 3.0),  # 00:00 + 00:05 merged (within 10-min gap)
            ("S001", 1, 4.0),  # 00:20 — new session
            ("S002", 1, 9.0),
        ]
        # session end = last event + gap; appended exactly once each
        assert sessions[0]["session_end"].isoformat() == "2024-01-16T00:15:00"
    finally:
        run.stop()


def test_rate_micro_batch_source_is_deterministic(spark):
    """rate-micro-batch (S3's deterministic test twin): availableNow emits
    exactly rowsPerBatch consecutive values, composable with the standard
    aggregation builders."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.sources.readers import (
        read_rate_stream,
    )
    from hadoop_pyspark_streaming_analytics_spark.streaming.queries import (
        running_sensor_stats,
    )

    stream = read_rate_stream(spark, rows_per_batch=40).select(
        (F.col("value") % 4).cast("string").alias("sensor_id"),
        F.col("value").cast("double").alias("temperature"),
        F.col("timestamp").alias("event_time"),
    )
    q = (
        running_sensor_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("rate_agg")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    rows = {r["sensor_id"]: r for r in spark.table("rate_agg").collect()}
    assert set(rows) == {"0", "1", "2", "3"}
    # sensor k holds values k, k+4, ..., k+36 → count 10, min k, max k+36
    for k in range(4):
        r = rows[str(k)]
        assert r["reading_count"] == 10
        assert r["min_value"] == float(k)
        assert r["max_value"] == float(k + 36)
