"""Tests for the streaming extensions: ingest dedup (state-expiring),
stream-static enrichment, foreachBatch parquet sink."""

from __future__ import annotations

import pytest

from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
    foreach_batch_parquet,
    stream_fingerprint_dedup,
    stream_static_enrich,
    stream_stream_interval_join,
)
from hadoop_pyspark_streaming_analytics_spark.streaming.harness import (
    MemorySinkRun,
    write_json_batch,
)

DOC_SCHEMA = "doc_id long, text string, source string, ts string"

BATCH0 = [
    {"doc_id": 1, "text": "alpha beta gamma", "source": "src0", "ts": "2024-01-16T00:01:00"},
    {"doc_id": 2, "text": "alpha  beta   GAMMA", "source": "src1", "ts": "2024-01-16T00:02:00"},  # near-dup of 1 after normalization
    {"doc_id": 3, "text": "something else", "source": "src0", "ts": "2024-01-16T00:03:00"},
]
BATCH1 = [
    {"doc_id": 4, "text": "alpha beta gamma", "source": "src2", "ts": "2024-01-16T00:04:00"},  # dup of 1, later batch
    {"doc_id": 5, "text": "fresh content", "source": "src0", "ts": "2024-01-16T00:05:00"},
]


def _doc_stream(spark, watch_dir):
    from pyspark.sql import functions as F

    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(watch_dir)
        .withColumn("event_time", F.to_timestamp("ts"))
    )


def test_stream_fingerprint_dedup_across_batches(spark, tmp_path):
    """Normalization-equal docs dedup WITHIN and ACROSS micro-batches while
    the watermark holds their keys in state."""
    watch = str(tmp_path / "docs")
    write_json_batch(watch, BATCH0, 0)
    deduped = stream_fingerprint_dedup(
        _doc_stream(spark, watch), event_time_col="event_time"
    )
    run = MemorySinkRun(spark, deduped, output_mode="append")
    try:
        run.process_all()
        write_json_batch(watch, BATCH1, 1)
        run.process_all()
        ids = sorted(r["doc_id"] for r in run.table().collect())
        # doc 2 (same fingerprint as 1, same batch) and doc 4 (same
        # fingerprint, next batch, within watermark) are both dropped
        assert ids == [1, 3, 5]
    finally:
        run.stop()


def test_stream_static_enrich_broadcast(spark, tmp_path):
    watch = str(tmp_path / "docs")
    write_json_batch(watch, BATCH0, 0)
    dim = spark.createDataFrame(
        [("src0", "crawl"), ("src1", "books")], "source string, origin string"
    )
    enriched = stream_static_enrich(_doc_stream(spark, watch), dim, on="source")
    run = MemorySinkRun(spark, enriched, output_mode="append")
    try:
        run.process_all()
        rows = {r["doc_id"]: r["origin"] for r in run.table().collect()}
        assert rows == {1: "crawl", 2: "books", 3: "crawl"}  # left join keeps all
    finally:
        run.stop()


def test_foreach_batch_parquet_sink(spark, tmp_path):
    watch = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    write_json_batch(watch, BATCH0, 0)
    stream = _doc_stream(spark, watch)
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(foreach_batch_parquet(out, partition_by=["source"]))
        .start()
    )
    try:
        q.processAllAvailable()
        write_json_batch(watch, BATCH1, 1)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 5
    # partitioned layout → source is a partition column readable back
    assert sorted(r["source"] for r in got.select("source").distinct().collect()) == [
        "src0",
        "src1",
        "src2",
    ]


CLICK_SCHEMA = "user_id long, page string, ts string"
BUY_SCHEMA = "user_id long, amount double, ts string"

CLICKS = [
    {"user_id": 1, "page": "home", "ts": "2024-01-16T00:01:00"},
    {"user_id": 2, "page": "search", "ts": "2024-01-16T00:02:00"},
    {"user_id": 3, "page": "home", "ts": "2024-01-16T00:03:00"},
]
BUYS = [
    {"user_id": 1, "amount": 9.5, "ts": "2024-01-16T00:04:00"},   # 3 min after click: match
    {"user_id": 2, "amount": 20.0, "ts": "2024-01-16T00:09:00"},  # 7 min after click: outside bound
    {"user_id": 3, "amount": 5.0, "ts": "2024-01-16T00:02:00"},   # before the click: no match
]


def test_stream_stream_interval_join(spark, tmp_path):
    """Purchases join their preceding click only within the 5-minute bound;
    both sides watermarked so join state expires."""
    from pyspark.sql import functions as F

    click_dir, buy_dir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    write_json_batch(click_dir, CLICKS, 0)
    write_json_batch(buy_dir, BUYS, 0)
    clicks = (
        spark.readStream.schema(CLICK_SCHEMA).json(click_dir)
        .withColumn("click_time", F.to_timestamp("ts")).drop("ts")
    )
    buys = (
        spark.readStream.schema(BUY_SCHEMA).json(buy_dir)
        .withColumn("buy_time", F.to_timestamp("ts")).drop("ts")
    )
    joined = stream_stream_interval_join(
        clicks, buys, key="user_id", left_time="click_time", right_time="buy_time"
    )
    run = MemorySinkRun(spark, joined, output_mode="append")
    try:
        run.process_all()
        rows = [(r["user_id"], r["page"], r["amount"]) for r in run.table().collect()]
        assert rows == [(1, "home", 9.5)]
    finally:
        run.stop()


def test_stream_stream_join_rejects_shared_time_name(spark):
    from pyspark.sql import functions as F

    df = spark.range(1).withColumn("t", F.current_timestamp())
    with pytest.raises(ValueError):
        stream_stream_interval_join(df, df, key="id", left_time="t", right_time="t")


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """leftOuter interval join: matched rows emit immediately; an unmatched
    click emits null-padded only once the watermark passes its join window
    (needs later events on BOTH streams to advance the watermark)."""
    from pyspark.sql import functions as F

    click_dir, buy_dir = str(tmp_path / "clicks_lo"), str(tmp_path / "buys_lo")
    write_json_batch(click_dir, CLICKS, 0)
    write_json_batch(buy_dir, BUYS, 0)
    clicks = (
        spark.readStream.schema(CLICK_SCHEMA).json(click_dir)
        .withColumn("click_time", F.to_timestamp("ts")).drop("ts")
    )
    buys = (
        spark.readStream.schema(BUY_SCHEMA).json(buy_dir)
        .withColumn("buy_time", F.to_timestamp("ts")).drop("ts")
    )
    joined = stream_stream_interval_join(
        clicks, buys, key="user_id",
        left_time="click_time", right_time="buy_time", how="leftOuter",
    )
    run = MemorySinkRun(spark, joined, output_mode="append")
    try:
        run.process_all()
        # advance both watermarks far past every join window
        write_json_batch(
            click_dir,
            [{"user_id": 9, "page": "late", "ts": "2024-01-16T01:00:00"}],
            1,
        )
        write_json_batch(
            buy_dir,
            [{"user_id": 9, "amount": 1.0, "ts": "2024-01-16T01:00:00"}],
            1,
        )
        run.process_all()
        run.process_all()  # extra cycle: outer-null emission follows state GC
        rows = {
            (r["user_id"], r["page"]): r["amount"] for r in run.table().collect()
        }
        assert rows[(1, "home")] == 9.5          # matched inside bound
        assert rows[(2, "search")] is None        # buy outside bound -> null
        assert rows[(3, "home")] is None          # buy before click -> null
    finally:
        run.stop()


def test_foreach_batch_idempotent_replay_no_duplicates(spark, tmp_path):
    """Replaying a batch through the idempotent sink overwrites its
    batch_id directory instead of duplicating rows."""
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_parquet_idempotent,
    )

    out = str(tmp_path / "idem")
    sink = foreach_batch_parquet_idempotent(out)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    sink(df, 0)
    sink(df, 0)  # simulated failure replay of the SAME batch
    sink(df.limit(1), 1)
    back = spark.read.parquet(out)
    assert back.count() == 3  # 2 from batch 0 (not 4) + 1 from batch 1
    assert {r["batch_id"] for r in back.select("batch_id").collect()} == {0, 1}


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow: process EVERYTHING currently in the source
    (across multiple micro-batches under maxFilesPerTrigger), then stop on
    its own — the backfill pattern for replaying a streaming pipeline over
    accumulated history without leaving a long-running query."""
    from pyspark.sql import functions as F

    watch = str(tmp_path / "backfill")
    write_json_batch(watch, BATCH0, 0)
    write_json_batch(watch, BATCH1, 1)
    stream = _doc_stream(spark, watch)  # maxFilesPerTrigger=1 -> >=2 batches
    agg = stream.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("backfill_counts")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "availableNow query did not self-stop"
        rows = {
            r["source"]: r["n_docs"]
            for r in spark.table("backfill_counts").collect()
        }
        assert rows == {"src0": 3, "src1": 1, "src2": 1}
        assert not q.isActive  # drained and stopped on its own
    finally:
        q.stop()


def test_checkpoint_recovery_resumes_exactly_once(spark, tmp_path):
    """Stop a checkpointed query, add data, restart with the SAME
    checkpoint: the restarted query must process only the new files — no
    loss, no reprocessing — landing every input row exactly once in the
    file sink."""
    from pyspark.sql import functions as F

    watch = str(tmp_path / "ckpt_src")
    out = str(tmp_path / "ckpt_out")
    ckpt = str(tmp_path / "ckpt_state")
    write_json_batch(watch, BATCH0, 0)

    def start():
        return (
            _doc_stream(spark, watch)
            .select("doc_id", "source", "event_time")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = spark.read.parquet(out).count()
    assert first == len(BATCH0)

    write_json_batch(watch, BATCH1, 1)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == len(BATCH0) + len(BATCH1)  # no dup, no loss
    assert {r["doc_id"] for r in rows} == {1, 2, 3, 4, 5}


def test_foreach_batch_lsh_dedup_across_batches_and_replay(spark, tmp_path):
    """Near-dups arriving in LATER batches are dropped against the band
    store; unique docs survive; replaying a batch (failure recovery) is
    idempotent and never self-collides."""
    from pyspark.sql import Row

    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_lsh_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight while stars shine bright"
    )
    near = base.replace("tonight", "today")  # near-dup of base
    other = (
        "completely different content about spark shuffle partitions and "
        "broadcast joins in distributed query engines at massive scale"
    )
    store = str(tmp_path / "bands")
    out = str(tmp_path / "clean")
    apply_fn = foreach_batch_lsh_dedup(store, out)

    b0 = spark.createDataFrame([Row(doc_id=1, text=base)])
    b1 = spark.createDataFrame(
        [Row(doc_id=2, text=near), Row(doc_id=3, text=other)]
    )
    apply_fn(b0, 0)
    apply_fn(b1, 1)
    kept = sorted(
        r["doc_id"]
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    assert kept == [1, 3]  # near-dup doc 2 dropped against the store

    # replay batch 1 (simulated failure recovery): same outcome, no
    # self-collision with its own previously-written bands
    apply_fn(b1, 1)
    kept2 = sorted(
        r["doc_id"]
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    assert kept2 == [1, 3]

    # intra-batch near-dups: smallest doc_id wins within one batch
    b2 = spark.createDataFrame(
        [
            Row(doc_id=10, text=other.replace("massive", "large")),
            Row(doc_id=11, text=other.replace("massive", "huge")),
        ]
    )
    apply_fn(b2, 2)
    kept3 = sorted(
        r["doc_id"]
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    assert kept3 == [1, 3]  # both collide with doc 3's bands via the store


def test_foreach_batch_lsh_dedup_intra_batch_chain_component(spark, tmp_path):
    """Intra-batch chains must resolve with batch-parity component
    semantics (ADVICE r3): if A~B and B~C collide inside ONE batch, the
    admitted set is one representative per connected component (the
    smallest doc_id) — not the per-pair larger-side rule, under which a
    doc could be dropped for colliding only with an unadmitted victim or
    survive mid-chain."""
    from pyspark.sql import Row

    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_lsh_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight while stars shine bright"
    )
    # A ~ B (one word differs) and B ~ C (another word differs from B);
    # A and C differ in two words — a chain, likely not a direct collision.
    a_txt = base
    b_txt = base.replace("tonight", "today")
    c_txt = b_txt.replace("quick", "swift")
    store = str(tmp_path / "bands_chain")
    out = str(tmp_path / "clean_chain")
    apply_fn = foreach_batch_lsh_dedup(store, out)

    batch = spark.createDataFrame(
        [Row(doc_id=1, text=a_txt), Row(doc_id=2, text=b_txt), Row(doc_id=3, text=c_txt)]
    )
    apply_fn(batch, 0)
    kept = sorted(
        r["doc_id"]
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    # all three are one component (1~2, 2~3): exactly the min survives
    assert kept == [1]


def test_foreach_batch_adc_topk_matches_batch_path(spark, tmp_path):
    """Streaming retrieval parity: an EXTERNAL query stream (ids that do
    not live in the corpus, embeddings copied from corpus vectors 0-4)
    must produce EXACTLY the batch engine's answer for the same queries
    (adc_topk_for_queries, self-exclusion off), split across
    micro-batches; replaying a batch is idempotent (overwrite
    discipline).  Collision-safety (round-4 advice): external queries
    must NOT inherit the corpus-internal vec_id != query_id filter — an
    external query whose embedding equals corpus vector v retrieves v
    itself at rank 1."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        adc_topk_for_queries,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_adc_topk,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "retrieval")
    apply_fn = foreach_batch_adc_topk(sf, out)
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    q = lambda ids: emb.filter(F.col("vec_id").isin(*ids)).select(
        (F.col("vec_id") + 10_000_000).alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    apply_fn(q((0, 1, 2)), 0)
    apply_fn(q((3, 4)), 1)
    apply_fn(q((3, 4)), 1)  # replay: must overwrite, not duplicate
    got = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rk"])
        for r in spark.read.option("basePath", out).parquet(out)
        .select("query_id", "vec_id", "adc_dist", "rk")
        .collect()
    )
    want_rows = adc_topk_for_queries(
        emb, q((0, 1, 2, 3, 4)), exclude_self=False
    ).collect()
    want = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rk"])
        for r in want_rows
    )
    assert got == want
    # the source vector itself surfaces at rank 1 (ADC distance to self is
    # the quantization floor — minimal by construction)
    rank1 = {r[0]: r[1] for r in got if r[3] == 1}
    assert rank1 == {10_000_000 + v: v for v in (0, 1, 2, 3, 4)}


def test_foreach_batch_adc_topk_reads_materialized_codes(spark, tmp_path):
    """The materialized-index path (round-4 advice): build the PQ index
    once (codes partitioned by IVF cell + codebook), then every
    micro-batch must (a) return byte-identical results to the
    recompute-from-raw-vectors path and (b) scan ONLY the persisted codes
    — no `embedding` column read anywhere in the per-batch plan."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        adc_topk_for_queries,
        load_pq_index,
        materialize_pq_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_adc_topk,
    )

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "pq_index")
    out = str(tmp_path / "retrieval")
    materialize_pq_index(spark, sf, idx)
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        (F.col("vec_id") + 10_000_000).alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    apply_fn = foreach_batch_adc_topk(sf, out, codes_path=idx)
    apply_fn(queries, 0)
    got = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rk"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    want = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rk"])
        for r in adc_topk_for_queries(
            emb, queries, exclude_self=False
        ).collect()
    )
    assert got == want
    # plan audit: with the query vectors arriving as stream-local rows
    # (as in a real micro-batch), the codes-backed ADC plan must never
    # touch the embeddings table — corpus scan is codes-only, codebook is
    # the PQ_K-row parquet
    local_q = spark.createDataFrame(
        [(r["query_id"], [float(x) for x in r["q_emb"]]) for r in queries.collect()],
        "query_id bigint, q_emb array<float>",
    )
    codes, cents = load_pq_index(spark, idx)
    codes_df = adc_topk_for_queries(
        None,
        local_q,
        codes=codes.select("vec_id", "codes"),
        cents=cents,
        exclude_self=False,
    )
    plan = codes_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "embeddings.parquet" not in plan
    assert "embedding:" not in plan  # no raw-vector column in any ReadSchema


def test_foreach_batch_adc_topk_nprobe_prunes_partitions(spark, tmp_path):
    """The nprobe fast path (round 8 — the retrieval tier's last
    per-batch full scan): (a) with nprobe = every cell, the pruned
    engine must equal the exhaustive codes-backed ADC byte-for-byte
    (probing everything changes nothing — the equivalence that proves
    the gate is a prune, not a rescore); (b) with nprobe < cells, every
    returned neighbor must lie in its query's probed cells and ranks
    stay contiguous; (c) the per-batch plan must show the probed-cell
    isin reaching the codes scan as PartitionFilters — unprobed cell
    directories are never read; (d) the streaming handler routes
    through the same engine."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        adc_topk_for_queries,
        ivf_adc_topk_for_queries,
        load_pq_index,
        materialize_pq_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_adc_topk,
    )

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "pq_index")
    out = str(tmp_path / "retrieval")
    materialize_pq_index(spark, sf, idx)
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    queries = spark.createDataFrame(
        [
            (r["vec_id"] + 10_000_000, [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id").isin(0, 5, 9)).collect()
        ],
        "query_id bigint, q_emb array<float>",
    )
    codes, cents = load_pq_index(spark, idx)
    n_cells = codes.select("centroid_id").distinct().count()

    # (a) probe-everything == exhaustive ADC
    full_probe = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rk"])
        for r in ivf_adc_topk_for_queries(
            spark, idx, queries, 10, n_cells, exclude_self=False
        ).collect()
    )
    exhaustive = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rk"])
        for r in adc_topk_for_queries(
            None, queries, 10, codes=codes.select("vec_id", "codes"),
            cents=cents, exclude_self=False,
        ).collect()
    )
    assert full_probe == exhaustive and full_probe

    # (b) nprobe=2: results confined to probed cells, ranks contiguous
    pruned_df = ivf_adc_topk_for_queries(
        spark, idx, queries, 10, 2, exclude_self=False
    )
    pruned = pruned_df.collect()
    cell_of = {
        r["vec_id"]: r["centroid_id"]
        for r in codes.select("vec_id", "centroid_id").collect()
    }
    cents_tbl = spark.read.parquet(f"{idx}/centroids")
    import math

    cvecs = {
        r["centroid_id"]: [float(x) for x in r["c_emb"]]
        for r in cents_tbl.collect()
    }
    qvecs = {
        r["query_id"]: [float(x) for x in r["q_emb"]]
        for r in queries.collect()
    }

    def probed(qid):
        d = {
            cid: round(
                math.fsum((a - b) ** 2 for a, b in zip(qvecs[qid], cv)) + 1e-8,
                6,
            )
            for cid, cv in cvecs.items()
        }
        return {c for c, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:2]}

    by_q: dict = {}
    for r in pruned:
        assert cell_of[r["vec_id"]] in probed(r["query_id"])
        by_q.setdefault(r["query_id"], []).append(r["rk"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    # (c) the probed-cell isin reaches the codes scan as a partition
    # filter (directory pruning, not a post-scan filter)
    plan = pruned_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    codes_scans = [
        b
        for b in plan.split("\n\n")
        if "Scan parquet" in b and "codes" in b and "PartitionFilters" in b
    ]
    assert any(
        "centroid_id" in b.split("PartitionFilters")[1].split("]")[0]
        for b in codes_scans
    ), plan[:2000]
    assert "embeddings.parquet" not in plan

    # (d) the streaming handler's nprobe route lands the same rows
    apply_fn = foreach_batch_adc_topk(sf, out, codes_path=idx, nprobe=2)
    apply_fn(queries, 0)
    got = sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rk"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    assert got == sorted(
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rk"]) for r in pruned
    )
    # misconfiguration fails loudly at wrap time, not mid-stream
    import pytest

    with pytest.raises(ValueError):
        foreach_batch_adc_topk(sf, out, nprobe=2)


def test_streaming_classifier_gate_matches_batch(spark, tmp_path):
    """The model quality gate is a stateless projection, so the SAME
    operator code (quality_features → classify_documents) must compile
    under Structured Streaming and score every micro-batch identically to the
    batch path — the classic one-plan-two-runtimes contract, here for the
    round-5 classifier tier."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        classify_documents,
        quality_features,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    watch = tmp_path / "docs"
    watch.mkdir()
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    docs.limit(200).coalesce(1).write.json(str(watch / "b0"), mode="overwrite")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(watch / "b0"))
    )
    run = MemorySinkRun(
        spark, classify_documents(quality_features(stream)), output_mode="append"
    )
    try:
        run.process_all()
        got = {
            r["doc_id"]: (r["model_score"], r["keep"])
            for r in run.table().collect()
        }
    finally:
        run.stop()
    batch_src = spark.read.schema("doc_id long, text string").json(
        str(watch / "b0")
    )
    expected = {
        r["doc_id"]: (r["model_score"], r["keep"])
        for r in classify_documents(quality_features(batch_src)).collect()
    }
    assert got == expected and got


def test_streaming_bloom_decontamination_gate_matches_batch(spark, tmp_path):
    """The Bloom decontamination gate is one codegen projection (gram
    array + k-hash membership + ratio, bitmap as a plan literal), so the
    SAME operator must compile under Structured Streaming and score
    micro-batches identically to the batch path.  Also pins the safety
    direction: bloom_frac can only OVERSHOOT the true contamination
    fraction (no false negatives), so every doc the gate keeps is under
    the threshold by the exact check too."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators import scrubbing
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    bench = (
        scrubbing._doc_ngrams(docs)
        .filter(F.col("doc_id") % scrubbing.BENCHMARK_MOD == 0)
        .select("gram")
        .distinct()
    )
    words = scrubbing._bloom_build_words(bench, "gram")

    watch = tmp_path / "docs"
    watch.mkdir()
    docs.select("doc_id", "text").limit(200).coalesce(1).write.json(
        str(watch / "b0"), mode="overwrite"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(watch / "b0"))
    )
    run = MemorySinkRun(
        spark,
        scrubbing.contamination_bloom_gate(stream, words, max_frac=0.3),
        output_mode="append",
    )
    try:
        run.process_all()
        got = {
            r["doc_id"]: (r["n_grams"], r["n_candidates"], r["bloom_frac"], r["keep"])
            for r in run.table().collect()
        }
    finally:
        run.stop()

    batch_src = spark.read.schema("doc_id long, text string").json(str(watch / "b0"))
    expected = {
        r["doc_id"]: (r["n_grams"], r["n_candidates"], r["bloom_frac"], r["keep"])
        for r in scrubbing.contamination_bloom_gate(
            batch_src, words, max_frac=0.3
        ).collect()
    }
    assert got == expected and got

    # safety direction vs the exact check (same corpus, same threshold):
    exact = {
        r["doc_id"]: r["contamination_frac"]
        for r in scrubbing.contamination_check(spark, sf).collect()
    }
    checked = 0
    for doc_id, (_, _, bloom_frac, keep) in got.items():
        if doc_id in exact:  # exact check covers train docs only
            assert bloom_frac >= exact[doc_id] - 1e-4  # never undershoots
            if keep:
                assert exact[doc_id] <= 0.3
                checked += 1
    assert checked > 0


def test_streaming_bpe_tokenize_matches_batch_and_dictionary(spark, tmp_path):
    """The BPE apply path is a stateless projection (merge rules embedded
    as literal regexp chains), so the SAME operator must compile under
    Structured Streaming, tokenize micro-batches identically to the batch
    path, and agree word-for-word with the trained dictionary
    segmentation (corpus.bpe_segment)."""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    merges = [
        (r["lft"], r["rgt"])
        for r in corpus.bpe_merges(spark, sf).orderBy("step").collect()
    ]
    assert len(merges) == corpus.BPE_MERGES
    watch = tmp_path / "docs"
    watch.mkdir()
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    docs.limit(50).coalesce(1).write.json(str(watch / "b0"), mode="overwrite")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(watch / "b0"))
    )
    run = MemorySinkRun(
        spark, corpus.bpe_tokenize_documents(stream, merges), output_mode="append"
    )
    try:
        run.process_all()
        got = {
            (r["doc_id"], r["pos"]): (r["word"], r["segmentation"])
            for r in run.table().collect()
        }
    finally:
        run.stop()
    batch_src = spark.read.schema("doc_id long, text string").json(str(watch / "b0"))
    expected = {
        (r["doc_id"], r["pos"]): (r["word"], r["segmentation"])
        for r in corpus.bpe_tokenize_documents(batch_src, merges).collect()
    }
    assert got == expected and got
    # word-for-word agreement with the trained dictionary segmentation
    dict_seg = {
        r["word"]: r["segmentation"] for r in corpus.bpe_segment(spark, sf).collect()
    }
    for word, seg in got.values():
        assert seg == dict_seg[word]
        assert seg.replace(" ", "") == word


def test_foreach_batch_curation_matches_batch_composition(spark, tmp_path):
    """The streaming curation pipeline (ingest → model gate → LSH dedup →
    BPE tokenize) must equal composing the separately-parity-proven batch
    stages over the same batch structure: the admitted set is exactly what
    the LSH dedup stage admits from the batch-gated docs, and every sink
    row carries the batch classifier's score and the batch tokenizer's
    true token count.  Driven once through a REAL writeStream.foreachBatch
    so the composition is exercised under Structured Streaming, not just
    by direct function calls."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators import corpus
    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        classify_documents,
        quality_features,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_curation,
        foreach_batch_lsh_dedup,
    )

    sf = "/root/testdata/sf0.001"
    merges = [
        (r["lft"], r["rgt"])
        for r in corpus.bpe_merges(spark, sf).orderBy("step").collect()
    ]
    docs = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    # inject a high-quality near-dup pair across the batch boundary so the
    # dedup stage provably fires post-gate
    twin_src = docs.orderBy(F.col("doc_id").desc()).limit(40)
    twins = twin_src.select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    b0 = docs.filter(F.col("doc_id") < 60)
    b1 = docs.filter(F.col("doc_id") >= 60).unionByName(twins)

    watch = tmp_path / "ingest"
    watch.mkdir()
    import json as _json

    with open(watch / "b0.json", "w") as f:
        for r in b0.collect():
            f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    store, out = str(tmp_path / "bands"), str(tmp_path / "curated")
    apply_fn = foreach_batch_curation(store, out, merges)

    # batch 0 through a REAL streaming query
    q = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(watch))
        .writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # batch 1 via direct apply (same code path foreachBatch invokes)
    apply_fn(b1, 1)

    def read_out():
        return {
            r["doc_id"]: (r["model_score"], r["n_bpe_tokens"])
            for r in spark.read.option("basePath", out).parquet(out).collect()
        }

    got = read_out()
    # replay batch 1 (failure recovery): the batch_id=N overwrite + the
    # prior-batches-only dedup authority must make it a no-op — no
    # duplicate rows, no self-collision against its own written bands
    apply_fn(b1, 1)
    assert read_out() == got

    # expected: batch gate → the proven LSH dedup stage over gated batches
    def gate(frame):
        scored = classify_documents(quality_features(frame)).filter("keep")
        return frame.join(scored.select("doc_id", "model_score"), "doc_id")

    g0, g1 = gate(b0).localCheckpoint(), gate(b1).localCheckpoint()
    store2, out2 = str(tmp_path / "bands2"), str(tmp_path / "clean2")
    lsh_fn = foreach_batch_lsh_dedup(store2, out2)
    lsh_fn(g0.select("doc_id", "text"), 0)
    lsh_fn(g1.select("doc_id", "text"), 1)
    admitted = {
        r["doc_id"]
        for r in spark.read.option("basePath", out2).parquet(out2).collect()
    }
    assert set(got) == admitted and got
    # the injected twins collide with their gated originals: at least one
    # gated twin must have been dropped by the dedup stage
    gated_twins = {r["doc_id"] for r in g1.collect() if r["doc_id"] >= 100_000}
    assert gated_twins - admitted, "dedup stage never fired post-gate"

    scores = {
        r["doc_id"]: r["model_score"]
        for r in gate(b0.unionByName(b1)).collect()
    }
    survivors = b0.unionByName(b1).filter(
        F.col("doc_id").isin([int(i) for i in got])
    )
    toks = corpus.bpe_tokenize_documents(survivors, merges)
    true_counts = {
        r["doc_id"]: r["n"]
        for r in toks.groupBy("doc_id")
        .agg(F.sum(F.size(F.split("segmentation", " "))).alias("n"))
        .collect()
    }
    for doc_id, (score, n_tokens) in got.items():
        assert score == scores[doc_id]
        assert n_tokens == true_counts.get(doc_id, 0)


def test_vacuum_cadence_fires_on_schedule_only(spark, tmp_path):
    """The foreachBatch retention-vacuum face: superseded directories
    from a deferred-GC fold survive until the scheduled batch, then one
    cadence hit removes them and retires the blacklist; off-schedule
    batches touch nothing."""
    import os

    from pyspark.sql import Row

    from hadoop_pyspark_streaming_analytics_spark.sources import genstore
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        vacuum_cadence,
    )

    store = str(tmp_path / "s")
    for bid, vals in ((-1, [1]), (0, [2]), (1, [3])):
        spark.createDataFrame([Row(v=v) for v in vals]).write.mode(
            "overwrite"
        ).parquet(f"{store}/batch_id={bid}")

    def fold(live_filter, new_base):
        (
            spark.read.option("basePath", store)
            .parquet(store)
            .filter(live_filter)
            .select("v")
            .write.mode("overwrite")
            .parquet(f"{store}/batch_id={new_base}")
        )

    genstore.fold_generations(
        spark, store, [store], fold, gc_immediately=False
    )

    def dirs():
        return sorted(
            d for d in os.listdir(store) if d.startswith("batch_id=")
        )

    handler = vacuum_cadence(store, every=3)
    probe = spark.createDataFrame([Row(x=1)])
    assert len(dirs()) == 4  # -2 (new base) + superseded -1, 0, 1
    for bid in (0, 1, 2, 4, 5):  # off-schedule: nothing happens
        handler(probe, bid)
        assert len(dirs()) == 4
    handler(probe, 3)
    assert dirs() == ["batch_id=-2"]
    assert genstore.load_manifest(spark, store)["folded"] == []


def test_foreach_batch_curation_auto_compaction_is_transparent(spark, tmp_path):
    """compact_every (VERDICT r7 item 5): interleaving band-store
    compaction with curation batches must change NOTHING observable —
    admitted docs identical to an uncompacted twin at every batch, the
    band-store ROW SET identical (layout may differ), replay of the last
    batch still a no-op after a fold ran, and the store's live append
    count stays bounded by the threshold."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators import corpus
    from hadoop_pyspark_streaming_analytics_spark.sources.genstore import (
        append_ids,
        generation_filter,
        load_manifest,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_curation,
    )

    sf = "/root/testdata/sf0.001"
    merges = [
        (r["lft"], r["rgt"])
        for r in corpus.bpe_merges(spark, sf).orderBy("step").collect()
    ]
    docs = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
        .collect()
    )
    # 5 batches of 20 docs; batch 3 carries near-dups of batch-0 docs so
    # the authority must still see FOLDED history to reject them
    batches = [docs[i * 20 : (i + 1) * 20] for i in range(5)]
    twins = [
        Row(doc_id=r["doc_id"] + 100_000, text=r["text"] + " extra")
        for r in batches[0][:8]
    ]
    batches[3] = batches[3] + twins

    store_c, out_c = str(tmp_path / "bands_c"), str(tmp_path / "out_c")
    store_p, out_p = str(tmp_path / "bands_p"), str(tmp_path / "out_p")
    stages: dict[str, float] = {}
    compacted = foreach_batch_curation(
        store_c, out_c, merges, stage_times=stages, compact_every=2
    )
    plain = foreach_batch_curation(store_p, out_p, merges)

    def admitted(out):
        return sorted(
            r["doc_id"]
            for r in spark.read.option("basePath", out).parquet(out).collect()
        )

    def band_rows(store):
        return sorted(
            (r["band_id"], r["band_hash"], r["doc_id"])
            for r in spark.read.option("basePath", store)
            .parquet(store)
            .filter(generation_filter(load_manifest(spark, store)))
            .collect()
        )

    for bid, rows_ in enumerate(batches):
        frame = spark.createDataFrame(rows_)
        compacted(frame, bid)
        plain(frame, bid)
        assert admitted(out_c) == admitted(out_p)
        assert band_rows(store_c) == band_rows(store_p)
        # the live append-generation count stays under the threshold + 1
        # (the keep_latest=1 survivor plus at most compact_every-1 new)
        live = append_ids(spark, store_c, load_manifest(spark, store_c))
        assert len(live) <= 2
    assert "compact" in stages  # the fold actually ran and was timed
    assert load_manifest(spark, store_c)["live_base"] < -1
    # the injected twins were rejected against FOLDED history
    assert all(d < 100_000 for d in admitted(out_c))

    # replay of the last batch after a fold ran: still a no-op
    before = admitted(out_c), band_rows(store_c)
    compacted(spark.createDataFrame(batches[4]), 4)
    assert (admitted(out_c), band_rows(store_c)) == before


def test_incremental_index_append_equals_full_build(spark, tmp_path):
    """Index-lifecycle exactness: building the PQ index on half the corpus
    and APPENDING the other half (frozen centroids + frozen codebook) must
    produce the same codes rows as a one-shot full build — because the
    centroid/codebook artifacts are the low-id vectors both builds share,
    assignment and encoding are deterministic functions of them.  Also
    pins (a) per-batch replay idempotence (re-appending batch 7 is a
    no-op), (b) identical indexed-search results through both layouts,
    and (c) the STREAMING spelling: new vectors arriving as real
    micro-batches through foreach_batch_index_append converge to the same
    index."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        append_pq_index_batch,
        ivf_pq_search_indexed,
        materialize_pq_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_index_append,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    half = 250
    sub = str(tmp_path / "sub")
    emb.filter(F.col("vec_id") < half).write.parquet(f"{sub}/embeddings.parquet")

    idx_inc = str(tmp_path / "idx_inc")
    idx_full = str(tmp_path / "idx_full")
    materialize_pq_index(spark, sub, idx_inc)
    materialize_pq_index(spark, sf, idx_full)

    def codes_of(p):
        return sorted(
            (r["vec_id"], tuple(r["codes"]), r["centroid_id"])
            for r in spark.read.parquet(f"{p}/codes").collect()
        )

    new_vecs = emb.filter(F.col("vec_id") >= half)
    append_pq_index_batch(spark, idx_inc, new_vecs, batch_id=7)
    full = codes_of(idx_full)
    assert codes_of(idx_inc) == full and len(full) == 500

    # replay: re-appending the same batch overwrites its own prefix only
    append_pq_index_batch(spark, idx_inc, new_vecs, batch_id=7)
    assert codes_of(idx_inc) == full

    # re-DELIVERY in a DIFFERENT batch (at-least-once source): vectors
    # already indexed — by the base build or batch 7 — must be dropped by
    # the prior-batches anti-join, not planted as duplicate codes rows
    redelivered = emb.filter(
        (F.col("vec_id") < 10) | (F.col("vec_id") >= 490)
    )
    append_pq_index_batch(spark, idx_inc, redelivered, batch_id=8)
    assert codes_of(idx_inc) == full

    # search parity through the partition-pruned path
    def search(p):
        return sorted(
            (r["query_id"], r["vec_id"], r["dist"], r["rk"])
            for r in ivf_pq_search_indexed(spark, sf, p).collect()
        )

    assert search(idx_inc) == search(idx_full)

    # compaction: fold the batch prefixes back into one base generation —
    # codes rows, search results, and the on-disk prefix count all pinned
    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        compact_pq_index,
    )
    import os

    n_folded = compact_pq_index(spark, idx_inc)
    # batch 7 (+ empty batch 8 if its directory materialized); the
    # base generation is NOT counted (ADVICE r6 off-by-one)
    assert 1 <= n_folded <= 2
    assert codes_of(idx_inc) == full
    assert search(idx_inc) == search(idx_full)
    # manifest-pointer commit: exactly one on-disk generation survives
    # GC, and it is the manifest's live base (genstore layout)
    from hadoop_pyspark_streaming_analytics_spark.sources.genstore import (
        load_manifest,
    )

    live = load_manifest(spark, f"{idx_inc}/codes")["live_base"]
    assert live < -1  # a compaction moved the base
    assert sorted(
        d for d in os.listdir(f"{idx_inc}/codes") if d.startswith("batch_id=")
    ) == [f"batch_id={live}"]
    # a compacted (= never-appended-since) index reports 0 prefixes folded
    assert compact_pq_index(spark, idx_inc) == 0
    assert codes_of(idx_inc) == full

    # streaming spelling: two real micro-batches through foreachBatch
    idx_stream = str(tmp_path / "idx_stream")
    materialize_pq_index(spark, sub, idx_stream)
    watch = tmp_path / "vecs"
    watch.mkdir()
    emb.filter((F.col("vec_id") >= half) & (F.col("vec_id") < 375)).coalesce(
        1
    ).write.parquet(str(watch / "f0"))
    emb.filter(F.col("vec_id") >= 375).coalesce(1).write.parquet(str(watch / "f1"))
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_index_append(idx_stream))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert codes_of(idx_stream) == full


def test_text_index_incremental_append_equals_full_build(spark, tmp_path):
    """Lexical index lifecycle (VERDICT r6 item 4), mirroring the PQ
    test above: base-build on half the corpus + appending the other half
    must hold the same postings as a one-shot full build (tf/df/doc_len/
    stats are additive over disjoint doc sets); per-batch replay and
    cross-batch redelivery are no-ops; BM25 through the grown index
    equals the from-corpus ranking; compaction folds the generations
    without changing any answer; and the STREAMING spelling (real
    micro-batches through foreach_batch_text_index_append) converges to
    the same index."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.retrieval import (
        append_text_index_batch,
        bm25_rank,
        bm25_rank_indexed,
        compact_text_index,
        materialize_text_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_text_index_append,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    half = 250
    sub = str(tmp_path / "sub")
    docs.filter(F.col("doc_id") < half).write.parquet(
        f"{sub}/documents.parquet"
    )

    idx_inc = str(tmp_path / "idx_inc")
    idx_full = str(tmp_path / "idx_full")
    materialize_text_index(spark, sub, idx_inc)
    materialize_text_index(spark, sf, idx_full)

    def postings_of(p):
        return sorted(
            (r["doc_id"], r["token"], r["tok_count"])
            for r in spark.read.parquet(f"{p}/postings").collect()
        )

    def rank_of(p):
        return [
            (r["rnk"], r["doc_id"], r["n_terms"], r["score"])
            for r in bm25_rank_indexed(spark, p).collect()
        ]

    new_docs = docs.filter(F.col("doc_id") >= half)
    append_text_index_batch(spark, idx_inc, new_docs, batch_id=7)
    full = postings_of(idx_full)
    assert postings_of(idx_inc) == full and full

    # folded corpus stats equal the one-shot build's
    def stats_of(p):
        r = (
            spark.read.parquet(f"{p}/stats")
            .agg(F.sum("n_docs"), F.sum("sum_tokens"))
            .collect()[0]
        )
        return (r[0], r[1])

    assert stats_of(idx_inc) == stats_of(idx_full)

    # replay: re-appending the same batch overwrites its own generation
    append_text_index_batch(spark, idx_inc, new_docs, batch_id=7)
    assert postings_of(idx_inc) == full

    # redelivery in a DIFFERENT batch: already-indexed docs anti-joined
    redelivered = docs.filter(
        (F.col("doc_id") < 10) | (F.col("doc_id") >= 490)
    )
    append_text_index_batch(spark, idx_inc, redelivered, batch_id=8)
    assert postings_of(idx_inc) == full
    assert stats_of(idx_inc) == stats_of(idx_full)

    # ranking parity: grown index == full index == from-corpus
    want_rank = [
        (r["rnk"], r["doc_id"], r["n_terms"], r["score"])
        for r in bm25_rank(spark, sf).collect()
    ]
    assert rank_of(idx_inc) == want_rank
    assert rank_of(idx_full) == want_rank

    # compaction folds append generations, answers unchanged
    import os

    n_folded = compact_text_index(spark, idx_inc)
    assert 1 <= n_folded <= 2  # batch 7 (+ empty batch 8's directory)
    # one manifest governs all three artifacts: each collapses to the
    # SAME live base generation (atomic cross-artifact flip)
    from hadoop_pyspark_streaming_analytics_spark.sources.genstore import (
        load_manifest,
    )

    live = load_manifest(spark, idx_inc)["live_base"]
    assert live < -1
    for part in ("postings", "doc_len", "stats"):
        assert sorted(
            d
            for d in os.listdir(f"{idx_inc}/{part}")
            if d.startswith("batch_id=")
        ) == [f"batch_id={live}"]
    assert postings_of(idx_inc) == full
    assert rank_of(idx_inc) == want_rank
    assert compact_text_index(spark, idx_inc) == 0

    # streaming spelling: two real micro-batches through foreachBatch
    idx_stream = str(tmp_path / "idx_stream")
    materialize_text_index(spark, sub, idx_stream)
    watch = tmp_path / "docs"
    watch.mkdir()
    docs.filter(
        (F.col("doc_id") >= half) & (F.col("doc_id") < 375)
    ).coalesce(1).write.parquet(str(watch / "f0"))
    docs.filter(F.col("doc_id") >= 375).coalesce(1).write.parquet(
        str(watch / "f1")
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_text_index_append(idx_stream)
        )
        .option("checkpointLocation", str(tmp_path / "tckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert postings_of(idx_stream) == full
    assert rank_of(idx_stream) == want_rank


def test_streaming_bm25_topk_matches_batch_ranking(spark, tmp_path):
    """The streaming lexical query stage: a micro-batch of term queries
    through foreach_batch_bm25_topk must reproduce, per query, exactly
    the bm25_rank batch ranking for those terms (shared scoring math);
    replaying the batch overwrites its own output directory."""
    from pyspark.sql import functions as F  # noqa: F401

    from hadoop_pyspark_streaming_analytics_spark.operators import retrieval
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_bm25_topk,
    )

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "tindex")
    retrieval.materialize_text_index(spark, sf, idx)

    queries = [
        (1, list(retrieval.BM25_QUERY)),
        (2, ["data", "model"]),
        (3, ["zzz_not_a_token"]),
    ]
    import json

    watch = tmp_path / "queries"
    watch.mkdir()
    with open(watch / "q0.json", "w") as f:
        for qid, terms in queries:
            f.write(json.dumps({"query_id": qid, "terms": terms}) + "\n")

    out = str(tmp_path / "hits")
    q = (
        spark.readStream.schema("query_id long, terms array<string>")
        .json(str(watch))
        .writeStream.foreachBatch(
            foreach_batch_bm25_topk(idx, out, k=retrieval.BM25_TOP_K)
        )
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    by_query = {
        qid: sorted(
            (
                (r["rnk"], r["doc_id"], r["n_terms"], r["score"])
                for r in got.filter(F.col("query_id") == qid).collect()
            )
        )
        for qid, _ in queries
    }
    for qid, terms in queries:
        want = sorted(
            (r["rnk"], r["doc_id"], r["n_terms"], r["score"])
            for r in retrieval.bm25_rank(spark, sf, query=tuple(terms)).collect()
        )
        assert by_query[qid] == want, f"query {qid}"
    assert by_query[3] == []  # unseen term: no hits, no crash


def test_streaming_hybrid_topk_fuses_both_index_arms(spark, tmp_path):
    """The streaming hybrid stage: per query, the fused ranking must be
    the RRF of the two (independently tested) index arms — recomputed in
    plain Python from the arms' own collected shortlists — and a doc
    found by only one arm still fuses with a single-arm score."""
    import json

    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators import retrieval
    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        adc_topk_for_queries,
        load_pq_index,
        materialize_pq_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_hybrid_topk,
    )

    sf = "/root/testdata/sf0.001"
    tidx = str(tmp_path / "tindex")
    pidx = str(tmp_path / "pindex")
    retrieval.materialize_text_index(spark, sf, tidx)
    materialize_pq_index(spark, sf, pidx)

    emb0 = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") == 0)
        .collect()[0]["embedding"]
    )
    queries = [
        (1, list(retrieval.BM25_QUERY), [float(x) for x in emb0]),
        (2, ["data", "model"], [float(x) for x in emb0]),
    ]
    watch = tmp_path / "hqueries"
    watch.mkdir()
    with open(watch / "q0.json", "w") as f:
        for qid, terms, q_emb in queries:
            f.write(
                json.dumps({"query_id": qid, "terms": terms, "q_emb": q_emb})
                + "\n"
            )

    out = str(tmp_path / "hhits")
    k = retrieval.HYBRID_TOP_K
    q = (
        spark.readStream.schema(
            "query_id long, terms array<string>, q_emb array<float>"
        )
        .json(str(watch))
        .writeStream.foreachBatch(
            foreach_batch_hybrid_topk(tidx, pidx, out, k=k)
        )
        .option("checkpointLocation", str(tmp_path / "hckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["query_id"], r["rnk"]): (
            r["doc_id"],
            r["lex_rank"],
            r["vec_rank"],
            r["rrf_score"],
        )
        for r in spark.read.parquet(out).collect()
    }

    # recompute the fusion per query from the two arms' own engines
    qdf = spark.createDataFrame(
        queries, "query_id long, terms array<string>, q_emb array<float>"
    )
    depth = retrieval.RRF_ARM_DEPTH
    lex_rows = retrieval.bm25_topk_for_queries(
        spark, tidx, qdf.select("query_id", "terms"), k=depth
    ).collect()
    codes, cents = load_pq_index(spark, pidx)
    vec_rows = adc_topk_for_queries(
        None,
        qdf.select("query_id", "q_emb"),
        depth,
        codes=codes.select("vec_id", "codes"),
        cents=cents,
        exclude_self=False,
    ).collect()
    for qid, _, _ in queries:
        lex = {r["doc_id"]: r["rnk"] for r in lex_rows if r["query_id"] == qid}
        vec = {r["vec_id"]: r["rk"] for r in vec_rows if r["query_id"] == qid}
        score = {
            d: round(
                (1.0 / (retrieval.RRF_K + lex[d]) if d in lex else 0.0)
                + (1.0 / (retrieval.RRF_K + vec[d]) if d in vec else 0.0)
                + 1e-10,
                6,
            )
            for d in set(lex) | set(vec)
        }
        want = sorted(score, key=lambda d: (-score[d], d))[:k]
        for rnk, d in enumerate(want, start=1):
            doc, lr, vr, s = got[(qid, rnk)]
            assert doc == d, (qid, rnk, doc, d)
            assert s == score[d]
            assert lr == lex.get(d) and vr == vec.get(d)
        # both single-arm and both-arm docs must appear in the fusion
        assert any(d not in vec for d in want) or any(
            d not in lex for d in want
        )
        assert any(d in lex and d in vec for d in want) or not (
            set(lex) & set(vec)
        )


def test_compact_band_store_preserves_dedup_authority(spark, tmp_path):
    """Band-store compaction: folding committed per-batch generations
    into the batch_id=-1 base must not change any later batch's dedup
    outcome (the authority is an existence semi-join — only the ROW SET
    matters, never the generation layout); the keep_latest generation
    survives unfolded so the replay-the-last-batch recovery path still
    excludes its own bands; double-compact folds nothing new."""
    import os

    from pyspark.sql import Row

    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        compact_band_store,
        foreach_batch_lsh_dedup,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog and runs far away "
           "into the deep green forest tonight while stars shine bright",
        2: "completely different content about spark shuffle partitions and "
           "broadcast joins in distributed query engines at massive scale",
        3: "a third unrelated passage describing bloom filters inverted "
           "indexes and product quantization for large retrieval systems",
    }
    probe = texts[1].replace("tonight", "today")  # near-dup of doc 1

    def build(store, out):
        apply_fn = foreach_batch_lsh_dedup(store, out)
        for bid, did in ((0, 1), (1, 2), (2, 3)):
            apply_fn(
                spark.createDataFrame([Row(doc_id=did, text=texts[did])]), bid
            )
        return apply_fn

    store_a, out_a = str(tmp_path / "bands_a"), str(tmp_path / "out_a")
    store_b, out_b = str(tmp_path / "bands_b"), str(tmp_path / "out_b")
    apply_a = build(store_a, out_a)
    apply_b = build(store_b, out_b)

    def band_rows(store):
        return sorted(
            (r["band_id"], r["band_hash"], r["doc_id"])
            for r in spark.read.option("basePath", store)
            .parquet(store)
            .collect()
        )

    from hadoop_pyspark_streaming_analytics_spark.sources.genstore import (
        load_manifest,
    )

    before = band_rows(store_a)
    assert compact_band_store(spark, store_a) == 2  # folds batches 0, 1
    assert band_rows(store_a) == before  # row set unchanged
    live = load_manifest(spark, store_a)["live_base"]
    assert live < -1  # manifest commit moved the base
    dirs = sorted(
        d for d in os.listdir(store_a) if d.startswith("batch_id=")
    )
    assert dirs == [f"batch_id={live}", "batch_id=2"]  # keep_latest survived
    assert compact_band_store(spark, store_a) == 0  # nothing new to fold

    # a later batch dedups identically through both layouts
    b3 = spark.createDataFrame(
        [Row(doc_id=9, text=probe), Row(doc_id=10, text="fresh words about "
         "entirely novel topics never mentioned before in any document")]
    )
    apply_a(b3, 3)
    apply_b(b3, 3)

    def kept(out):
        return sorted(
            r["doc_id"]
            for r in spark.read.option("basePath", out).parquet(out).collect()
        )

    assert kept(out_a) == kept(out_b) == [1, 2, 3, 10]

    # full fold with the stream stopped: keep_latest=0 leaves only base
    assert compact_band_store(spark, store_a, keep_latest=0) >= 1
    live = load_manifest(spark, store_a)["live_base"]
    assert sorted(
        d for d in os.listdir(store_a) if d.startswith("batch_id=")
    ) == [f"batch_id={live}"]
    assert band_rows(store_a) == band_rows(store_b)


def test_hybrid_for_queries_nprobe_full_probe_equivalence(spark, tmp_path):
    """hybrid_rrf_for_queries(nprobe=all cells) must equal the exhaustive
    vector arm byte-for-byte (the adc-level probe-everything equivalence
    composed through RRF), and a real nprobe keeps per-query ranks
    contiguous with the lexical arm untouched."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.retrieval import (
        _multi_queries_frame,
        hybrid_rrf_for_queries,
        materialize_text_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        load_pq_index,
        materialize_pq_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    tdir, pdir = str(tmp_path / "ti"), str(tmp_path / "pi")
    materialize_text_index(spark, sf, tdir)
    materialize_pq_index(spark, sf, pdir)
    emb = load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    queries = _multi_queries_frame(spark).join(emb, "query_id")
    codes, _ = load_pq_index(spark, pdir)
    n_cells = codes.select("centroid_id").distinct().count()

    def rows(df):
        return sorted(
            (r.query_id, r.rnk, r.doc_id, r.lex_rank, r.vec_rank, r.rrf_score)
            for r in df.collect()
        )

    base = rows(hybrid_rrf_for_queries(spark, tdir, pdir, queries))
    full_probe = rows(
        hybrid_rrf_for_queries(spark, tdir, pdir, queries, nprobe=n_cells)
    )
    assert base == full_probe and base

    pruned = hybrid_rrf_for_queries(
        spark, tdir, pdir, queries, nprobe=2
    ).collect()
    by_q: dict = {}
    for r in pruned:
        by_q.setdefault(r.query_id, []).append(r.rnk)
    assert set(by_q) == {0, 1, 2}
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # the lexical arm is probe-independent: its contribution is intact
    lex_base = {(r[0], r[2]): r[3] for r in base if r[3] is not None}
    lex_pruned = {
        (r.query_id, r.doc_id): r.lex_rank
        for r in pruned
        if r.lex_rank is not None
    }
    for key, rank in lex_pruned.items():
        assert lex_base.get(key, rank) == rank


# ---------------------------------------------------------------------------
# Replay after a crash in the middle of a batch's store write
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def crash_batch(spark):
    """One small micro-batch shared by the crash-replay cases: 30 corpus
    documents plus near-duplicate twins of ten of them, so every dedup
    stage has rows to drop."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 30)
    )
    twins = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    rows = docs.unionByName(twins).collect()
    return spark.createDataFrame(rows, "doc_id long, text string")


def _crash_handler(name: str, store: str, out: str):
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_curation,
        foreach_batch_lsh_dedup,
        foreach_batch_segment_scrub,
    )

    if name == "lsh_dedup":
        return foreach_batch_lsh_dedup(store, out)
    if name == "curation":
        return foreach_batch_curation(store, out, [("t", "h"), ("th", "e")])
    return foreach_batch_segment_scrub(store, out, max_doc_freq=1)


@pytest.mark.parametrize("handler", ["lsh_dedup", "curation", "segment_scrub"])
def test_replay_after_crash_mid_store_write_equals_clean_run(
    spark, tmp_path, crash_batch, handler
):
    """A process that died while batch 0 was writing its store leaves
    ``store/batch_id=0/`` holding only the writer's ``_temporary/``.
    Replaying batch 0 must produce exactly the clean run's output and
    store: the crashed directory is no generation to dedup against."""

    def rows(path: str) -> list[tuple]:
        df = spark.read.option("basePath", path).parquet(path)
        return sorted(map(tuple, df.select(sorted(df.columns)).collect()), key=repr)

    clean = tmp_path / "clean"
    _crash_handler(handler, str(clean / "store"), str(clean / "out"))(
        crash_batch, 0
    )
    crashed = tmp_path / "crashed"
    (crashed / "store" / "batch_id=0" / "_temporary" / "0").mkdir(parents=True)
    _crash_handler(handler, str(crashed / "store"), str(crashed / "out"))(
        crash_batch, 0
    )
    assert rows(str(crashed / "out")) == rows(str(clean / "out"))
    assert rows(str(crashed / "store")) == rows(str(clean / "store"))
