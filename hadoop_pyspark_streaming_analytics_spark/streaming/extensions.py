"""Streaming operators BEYOND the reference surface (SURVEY.md §2.10 lists
these as "not present"): streaming ingest dedup, stream-static enrichment
joins, and a transactional parquet sink via foreachBatch.  Together with
queries.py these make the streaming module a usable ingest pipeline (the
LLM-data use case: documents arrive as files → dedup → enrich → parquet).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin


def stream_dedup_exact(
    df: DataFrame,
    key_cols: list[str],
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup on arbitrary key columns.

    With an event-time column, uses ``dropDuplicatesWithinWatermark`` so the
    dedup state EXPIRES — the only shape that survives an unbounded stream
    (plain dropDuplicates state grows forever; kept as the semantic fallback
    for keyed replay-free sources)."""
    if event_time_col is not None:
        return df.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def stream_fingerprint_dedup(
    docs: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Content-level streaming dedup: fingerprint (md5 of normalized text)
    then keyed dedup — the streaming twin of operators/dedup.py:
    exact_duplicates, for ingest-time filtering."""
    from ..operators.dedup import normalized_text

    with_fp = docs.withColumn("fingerprint", F.md5(normalized_text(F.col(text_col))))
    return stream_dedup_exact(
        with_fp, ["fingerprint"], event_time_col=event_time_col, watermark=watermark
    )


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a dimension table.
    Spark re-plans the static side per batch; broadcast it explicitly —
    dimension tables are the canonical broadcast case and this avoids
    re-shuffling the stream state."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    watermark: str = "10 minutes",
    bound: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join on ``key`` bounded to an event-time interval:
    a right row matches a left row when ``left_time <= right_time <=
    left_time + bound``.

    Both sides are watermarked and the join condition carries the time
    bound — the combination is what lets Spark EXPIRE join state (left rows
    older than watermark+bound can never match again and are evicted).  An
    unbounded stream-stream join without both is a state leak, not a plan.
    ``left_time`` and ``right_time`` must be distinct names; the right-side
    key is dropped from the output.
    """
    if left_time == right_time:
        raise ValueError("left_time and right_time must be distinct column names")
    lhs = left.withWatermark(left_time, watermark).alias("l")
    rhs = right.withWatermark(right_time, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_time}") >= F.col(f"l.{left_time}"))
        & (
            F.col(f"r.{right_time}")
            <= F.col(f"l.{left_time}") + F.expr(f"INTERVAL {bound}")
        )
    )
    return lhs.join(rhs, cond, how).drop(F.col(f"r.{key}"))


def foreach_batch_parquet(
    path: str,
    partition_by: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """foreachBatch sink writing each micro-batch to partitioned parquet in
    append mode — the production sink the reference's console sink stands in
    for.  ``transform`` runs batch-only logic per micro-batch (e.g. exact
    countDistinct, which streaming aggregation cannot express)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        writer = out.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    return write


def foreach_batch_parquet_idempotent(path: str):
    """Replay-safe foreachBatch sink: each micro-batch writes to its own
    ``batch_id=N`` directory with OVERWRITE mode, so reprocessing after a
    failure (Spark replays the last un-committed batch on restart)
    rewrites the same directory instead of appending duplicates —
    file-sink exactly-once without a transaction log.  Readers scan
    ``path`` with ``batch_id`` as an ordinary partition column."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return write


def foreach_batch_lsh_dedup(
    store_path: str,
    out_path: str,
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
) -> Callable[[DataFrame, int], None]:
    """Streaming NEAR-dup dedup: a foreachBatch stage that drops each
    micro-batch's docs whose MinHash-LSH band buckets collide with any
    previously-admitted doc, then admits the survivors — extending the
    exact/fingerprint streaming dedup above to fuzzy duplicates (the
    ingest-time near-dedup every streaming training-data pipeline needs).

    State = a parquet band store (band_id, band_hash, doc_id), NOT
    executor state-store memory: LSH dedup state is corpus-lifetime (a
    doc arriving a month later is still a dup), far beyond any watermark,
    so it belongs in storage with bounded per-batch reads — the join
    against it is a thin semi-join keyed on (band_id, band_hash).

    Exactly-once under replay: both writes go to a batch_id=N
    subdirectory with overwrite (re-running batch N rewrites the same
    files), and the dedup authority is ONLY the other generations
    (genstore.read_prior_generations), so a replayed batch never
    collides with its own half-written bands.

    Per batch:
    1. bucket the batch (shingle → minhash → band digests);
    2. victims = docs bucket-colliding with the store (prior batches)
       ∪ intra-batch collisions (keep the smallest doc_id per bucket);
    3. write survivors to ``out_path/batch_id=N`` and ONLY survivors'
       bands to ``store_path/batch_id=N`` (victims must not pollute the
       bucket authority).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        buckets, victims = _lsh_batch_victims(
            docs, batch_id, store_path, n, bands, rows
        )
        survivors = docs.join(victims, "doc_id", "left_anti")
        survivors.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )
        buckets.join(victims, "doc_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(f"{store_path}/batch_id={batch_id}")

    return apply


def _lsh_batch_victims(
    docs: DataFrame,
    batch_id: int,
    store_path: str,
    n: int,
    bands: int,
    rows: int,
) -> tuple[DataFrame, DataFrame]:
    """The per-micro-batch LSH dedup core shared by
    :func:`foreach_batch_lsh_dedup` and :func:`foreach_batch_curation`:
    returns (band buckets for this batch, victim doc_ids).

    Victims = docs bucket-colliding with PRIOR batches' store
    (genstore.read_prior_generations — the dedup authority is only the
    other generations, so a replayed batch never collides with its own
    half-written bands) ∪
    intra-batch collisions resolved with BATCH-PARITY semantics:
    connected components over the batch's collision pairs, keeping each
    component's smallest doc_id — exactly what the batch-mode
    duplicate_components → keep_canonical pipeline admits (the per-pair
    larger-side rule diverged on chains — ADVICE r3; a micro-batch's
    collision graph is tiny, so the iterative component propagation is
    cheap).  The returned victim set is pinned: it gates both
    downstream writes, and without that each write re-reads the whole
    band store and re-runs both victim joins.
    """
    from ..operators.dedup import connected_components, lsh_band_buckets
    from ..sources.genstore import read_prior_generations

    prior = read_prior_generations(docs.sparkSession, store_path, batch_id)
    buckets = lsh_band_buckets(docs, n, bands, rows).transform(pin)
    victims = None
    if prior is not None:
        victims = (
            buckets.join(
                prior.select("band_id", "band_hash"),
                ["band_id", "band_hash"],
                "left_semi",
            )
            .select("doc_id")
            .distinct()
        )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    comp = connected_components(pairs)
    intra = (
        comp.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
        .distinct()
    )
    victims = (
        intra if victims is None else victims.unionByName(intra).distinct()
    ).transform(pin)
    return buckets, victims


def compact_band_store(
    spark,
    store_path: str,
    keep_latest: int = 1,
    gc_immediately: bool = True,
) -> int:
    """Fold the LSH band store's per-micro-batch ``batch_id=N``
    generations into a fresh base generation — the band store's
    compaction story, completing the set (PQ codes and BM25 postings
    already have theirs): at thousands of batches the prior-batches
    authority semi-join pays footer/listing overhead per tiny generation.
    Returns the number of generations folded.

    The ``keep_latest`` highest batch ids are NOT folded: Spark replays
    the last un-committed batch after a restart, and a replayed batch
    must not find its own bands in the "prior batches" authority (the
    base's negative id is always one of the generations other than N)
    — that would flag the whole batch as self-duplicates and overwrite
    its output empty.  Folding only committed history keeps replay
    exact; with the stream fully stopped, ``keep_latest=0`` folds
    everything.

    Publication is the genstore manifest-pointer commit
    (sources/genstore.py — VERDICT r7 item 2): the folded rows land in a
    brand-new ``batch_id={live-1}`` directory, ONE small manifest write
    makes it live, and the superseded directories are garbage-collected
    afterwards.  No directory is ever renamed and nothing is deleted
    before the manifest naming its replacement is committed, so the
    crash-retry band-history loss ADVICE r7 found in the old
    ``os.replace`` swap cannot occur, on local disk or on an object
    store alike.

    OPERATIONAL CONTRACT (applies to every generational store here —
    band store, segment store, PQ codes, text index): restarting a
    stream with a FRESH checkpoint restarts batch ids at 0, which would
    overwrite the previous incarnation's ``batch_id=0`` generation.  Run
    the matching compact with ``keep_latest=0`` while the stream is
    stopped BEFORE pointing a new checkpoint at an existing store —
    folding history into the base leaves no generation for batch 0 to
    collide with, and no generation above any new batch id."""
    from ..sources.genstore import content_bytes, fold_generations

    def write_new_base(live_filter, new_base: int) -> None:
        # Size the folded base's file count from the store's actual
        # bytes (~128 MB targets) instead of inheriting
        # shuffle.partitions: a tiny store folded into 32 near-empty
        # files makes every LATER batch's authority read pay 32 footer
        # fetches — the exact "lsh_dedup got slower after compaction"
        # regression BENCH_r08 measured at sf0.1.  coalesce (not
        # repartition): a compactor wants no shuffle, and upstream scan
        # parallelism collapses only for the write stage itself.
        n_files = max(1, content_bytes(spark, store_path) // (128 << 20))
        (
            spark.read.option("basePath", store_path)
            .parquet(store_path)
            .filter(live_filter)
            .select("band_id", "band_hash", "doc_id")
            .coalesce(int(n_files))
            .write.mode("overwrite")
            .parquet(f"{store_path}/batch_id={int(new_base)}")
        )

    return fold_generations(
        spark,
        store_path,
        [store_path],
        write_new_base,
        keep_latest=keep_latest,
        gc_immediately=gc_immediately,
    )


def foreach_batch_curation(
    store_path: str,
    out_path: str,
    merges: list[tuple[str, str]],
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    stage_times: dict[str, float] | None = None,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """The STREAMING curation pipeline — the streaming twin of
    pipelines.curate_documents_modern's shape, composed entirely from the
    stream-applicable stages the batch tier already proved:

        ingest micro-batch → MODEL quality gate (stateless classifier
        projection, quality.classify_documents) → LSH near-dup dedup vs
        the corpus-lifetime band store (:func:`_lsh_batch_victims`, the
        exact foreach_batch_lsh_dedup semantics) → BPE tokenize
        (corpus.bpe_tokenize_documents, merge rules embedded as literal
        regexp chains) → parquet.

    Per admitted doc the sink row is (doc_id, text, model_score,
    n_bpe_tokens) — the gated, deduped, true-token-priced record a
    training-data ingest actually lands; the survivors' band digests are
    admitted to the store so later batches dedup against them.
    Exactly-once under replay: both writes use the batch_id=N overwrite
    discipline and the dedup authority is prior batches only, like every
    foreachBatch sink here.

    Stage order is the batch pipeline's cost order (gate first: the
    classifier is a scan-speed projection, so the shuffle-bearing dedup
    and the tokenizer only touch docs that passed).  Each stage's
    batch-parity is separately test-pinned; the composition has its own
    parity test (tests/test_streaming_extensions.py).

    ``stage_times`` (VERDICT r6 item 8): when given, per-stage wall
    seconds for the LAST processed batch are recorded into it under
    ``gate`` / ``lsh_dedup`` / ``tokenize_write`` / ``bands_write``, so a
    bench regression in the composed figure is attributable to a stage.
    The split points are the pipeline's natural materialization barriers
    (two pins and the two writes) — timing adds no extra
    materialization and does not change the executed plan.

    ``compact_every`` (VERDICT r7 item 5): when set, the band store is
    auto-compacted from inside the handler — every batch otherwise adds
    one tiny generation whose listing/footer overhead the prior-batches
    authority semi-join pays forever after.  The fold always runs with
    ``keep_latest=1`` so the batch just written stays unfolded: Spark
    replays the last uncommitted batch after a crash, and a replayed
    batch must not meet its own bands in the authority (the
    compact_band_store contract).  foreachBatch handlers are serialized
    per query, so the genstore single-writer rule holds by construction.
    The trigger check is one directory listing plus two
    getContentSummary control calls; when the fold runs its wall time
    lands in ``stage_times["compact"]``.

    TRIGGER (reworked after BENCH_r08, where a fixed every-3-batches
    cadence LOST 66% wall at sf0.1 — each fold re-rewrote the whole
    base to save listings that were never the bottleneck at 10
    generations): the fold fires only when BOTH hold —

    * live append generation count >= ``compact_every`` (the count
      floor: never fold a handful of generations), AND
    * accumulated append bytes >= current base bytes (the size gate: a
      fold must at least double the base, so each byte is rewritten
      O(log N) times total — the LSM / Delta OPTIMIZE geometric-compaction
      discipline — instead of O(N/compact_every) times under a fixed
      cadence).

    A store that has never folded has base bytes 0, so the first fold
    fires on the count floor alone.  Append bytes are approximated as
    store bytes minus base bytes (exact under the default immediate GC;
    with deferred GC the approximation over-counts not-yet-vacuumed
    debris and folds at worst early, never late).  At the driver's
    bench scale (10 x ~500-doc batches) this triggers at most ONE fold;
    the crossover where compaction pays is thousands of generations,
    and the paired bench figure records both arms honestly either way.
    """
    import time

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.corpus import bpe_tokenize_documents
        from ..operators.quality import classify_documents, quality_features

        t0 = time.perf_counter()
        docs = batch_df.select("doc_id", "text")
        scored = classify_documents(quality_features(docs)).filter(
            F.col("keep")
        )
        gated = docs.join(
            scored.select("doc_id", "model_score"), "doc_id"
        ).transform(pin)
        t1 = time.perf_counter()
        buckets, victims = _lsh_batch_victims(
            gated.select("doc_id", "text"), batch_id, store_path, n, bands, rows
        )
        t2 = time.perf_counter()
        survivors = gated.join(victims, "doc_id", "left_anti")
        toks = bpe_tokenize_documents(
            survivors.select("doc_id", "text"), merges
        )
        per_doc = toks.groupBy("doc_id").agg(
            F.sum(F.size(F.split("segmentation", " ")))
            .cast("bigint")
            .alias("n_bpe_tokens")
        )
        out = survivors.join(per_doc, "doc_id", "left").select(
            "doc_id",
            "text",
            "model_score",
            F.coalesce(F.col("n_bpe_tokens"), F.lit(0)).alias("n_bpe_tokens"),
        )
        out.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
        t3 = time.perf_counter()
        buckets.join(victims, "doc_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(f"{store_path}/batch_id={batch_id}")
        t4 = time.perf_counter()
        if compact_every is not None:
            from ..sources.genstore import (
                append_ids,
                content_bytes,
                load_manifest,
            )

            spark = batch_df.sparkSession
            manifest = load_manifest(spark, store_path)
            live = append_ids(spark, store_path, manifest)
            if len(live) >= compact_every:
                base_b = content_bytes(
                    spark,
                    f"{store_path}/batch_id={int(manifest['live_base'])}",
                )
                append_b = content_bytes(spark, store_path) - base_b
                if append_b >= base_b:
                    compact_band_store(spark, store_path, keep_latest=1)
        if stage_times is not None:
            t5 = time.perf_counter()
            stage_times["gate"] = round(t1 - t0, 3)
            stage_times["lsh_dedup"] = round(t2 - t1, 3)
            stage_times["tokenize_write"] = round(t3 - t2, 3)
            stage_times["bands_write"] = round(t4 - t3, 3)
            if compact_every is not None:
                stage_times["compact"] = round(t5 - t4, 3)

    return apply


def vacuum_cadence(
    store_path: str,
    gen_dirs: list[str] | None = None,
    every: int = 50,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch-schedulable retention vacuum (the streaming face of
    genstore.vacuum_store — VERDICT r8 missing #3): every ``every``
    micro-batches, GC the store's manifest-invisible generation
    directories and retire the folded blacklist.  Compose it AFTER a
    deferred-GC compactor in the same handler, or run it as its own
    maintenance stream over any trickle source.

    The cadence IS the retention window under Structured Streaming's
    serialized-handler guarantee: a fold at batch N with
    ``gc_immediately=False`` keeps superseded directories on disk until
    the vacuum at the next multiple of ``every``, so any reader that
    resolved a manifest within that window finishes its scan.  Size
    ``every`` x trigger-interval above the longest concurrent query
    (the VACUUM ... RETAIN dial, spelled in batches)."""
    from ..sources.genstore import vacuum_store

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > 0 and batch_id % every == 0:
            vacuum_store(batch_df.sparkSession, store_path, gen_dirs)

    return apply


def foreach_batch_index_append(
    index_path: str,
) -> Callable[[DataFrame, int], None]:
    """STREAMING index maintenance: every micro-batch of new vectors is
    assigned to the index's frozen IVF centroids, PQ-encoded against its
    frozen codebook, and written as the replay-idempotent
    ``codes/batch_id=N`` prefix — operators/similarity.py:
    append_pq_index_batch as a foreachBatch stage.  Together with
    :func:`foreach_batch_adc_topk` this closes the loop: one stream can
    GROW the index while another retrieves from it, and a replayed batch
    overwrites only its own prefix (same exactly-once contract as every
    sink here).  The batch is assigned against centroids/codebook read
    from the index itself, so the stream needs no access to the original
    training corpus."""
    from ..operators.similarity import append_pq_index_batch

    def apply_fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_pq_index_batch(
            batch_df.sparkSession, index_path, batch_df, int(batch_id)
        )

    return apply_fn


def foreach_batch_text_index_append(
    index_path: str,
) -> Callable[[DataFrame, int], None]:
    """STREAMING lexical-index maintenance — the BM25 twin of
    :func:`foreach_batch_index_append` (VERDICT r6 item 4): every
    micro-batch of new documents is tokenized and landed as the
    replay-idempotent ``batch_id=N`` generation of a
    retrieval.materialize_text_index layout (postings + doc_len + stats
    partial), via operators/retrieval.py:append_text_index_batch.  One
    stream can GROW the index while another serves BM25 from it; a
    replayed batch overwrites only its own generation, and cross-batch
    redelivery is anti-joined against the doc-grain id authority.
    Micro-batch schema: (doc_id, text)."""
    from ..operators.retrieval import append_text_index_batch

    def apply_fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_text_index_batch(
            batch_df.sparkSession, index_path, batch_df, int(batch_id)
        )

    return apply_fn


def foreach_batch_bm25_topk(
    index_path: str, out_path: str, k: int = 10
) -> Callable[[DataFrame, int], None]:
    """Online lexical retrieval: a foreachBatch stage that ranks each
    micro-batch of term queries against the materialized BM25 index and
    writes each query's top-``k`` documents — the lexical twin of
    :func:`foreach_batch_adc_topk`, backed by
    operators/retrieval.py:bm25_topk_for_queries (one isin-pruned
    postings scan serves the whole batch; query-bounded broadcasts;
    WindowGroupLimit per-query top-k).

    Micro-batch schema: (query_id, terms array<string>).  State: none —
    retrieval is embarrassingly replayable, so exactly-once is the
    batch_id=N overwrite discipline shared by every foreachBatch sink
    here."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.retrieval import bm25_topk_for_queries

        result = bm25_topk_for_queries(
            batch_df.sparkSession,
            index_path,
            batch_df.select("query_id", "terms"),
            k,
        )
        result.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return apply


def foreach_batch_hybrid_topk(
    text_index_path: str,
    pq_index_path: str,
    out_path: str,
    k: int = 10,
    nprobe: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Online HYBRID retrieval: each micro-batch of (query_id, terms
    array<string>, q_emb array<float>) queries is ranked by BOTH
    materialized indexes — the BM25 inverted index and the PQ codes
    table — and fused per query with reciprocal-rank fusion
    (operators/retrieval.py:hybrid_rrf_for_queries).  The streaming
    completion of VERDICT r6 item 4: lexical, vector, and hybrid serving
    all run as foreachBatch stages against build-once artifacts, while
    sibling streams grow both indexes incrementally.  ``nprobe`` routes
    the vector arm through the IVF-probed partition-pruned engine (the
    foreach_batch_adc_topk trade — see SCALE.md's crossover note).
    State: none; the batch_id=N overwrite discipline carries
    exactly-once."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.retrieval import hybrid_rrf_for_queries

        result = hybrid_rrf_for_queries(
            batch_df.sparkSession,
            text_index_path,
            pq_index_path,
            batch_df.select("query_id", "terms", "q_emb"),
            k,
            nprobe=nprobe,
        )
        result.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return apply


def foreach_batch_adc_topk(
    sf_dir: str,
    out_path: str,
    k: int = 10,
    codes_path: str | None = None,
    nprobe: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Online vector retrieval: a foreachBatch stage that scores each
    micro-batch of query embeddings against the STATIC PQ-compressed
    corpus with asymmetric-distance computation and writes each query's
    top-``k`` neighbors — the streaming face of
    operators/similarity.py:pq_adc_topk (same scan-speed plan per batch:
    1-row broadcast codebook, per-query broadcast distance tables,
    WindowGroupLimit top-k; no corpus-sized shuffle).

    ``codes_path`` points at a :func:`materialize_pq_index` layout; when
    given, each micro-batch scans ONLY the persisted 64×-smaller codes
    table + the PQ_K-row codebook — zero raw-embedding reads per batch,
    which is the whole point of PQ at 100 TB (build once, query forever).
    Without it, codes are re-assigned from raw vectors per batch (the
    small-data convenience; round-4 advice named it a scale wart).

    Queries are EXTERNAL here, so self-exclusion is OFF: a query id that
    happens to collide with a corpus vec_id must not silently drop that
    unrelated corpus vector from its candidates (round-4 advice).

    ``nprobe`` (round 8, requires ``codes_path``): route the batch
    through :func:`similarity.ivf_adc_topk_for_queries` — the IVF-probed
    partition-pruned engine — so each micro-batch reads only its probed
    cells' directories instead of ADC-scoring the whole codes table.
    This was the retrieval tier's last per-batch full scan; at 100 TB
    an exhaustive-ADC trigger pays the entire (compressed) corpus per
    batch, while the probed plan pays |batch|·nprobe cells.  Left None,
    the exhaustive path remains (exact-ADC recall, the right default
    for small indexes).

    Micro-batch schema: (query_id, q_emb array<float>).  State: none —
    retrieval is embarrassingly replayable, so exactly-once comes from
    the same batch_id=N overwrite discipline as the other foreachBatch
    sinks here (a replayed batch rewrites its own directory).
    """
    if nprobe is not None and codes_path is None:
        raise ValueError("nprobe pruning requires a materialized codes_path")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.similarity import (
            adc_topk_for_queries,
            ivf_adc_topk_for_queries,
            load_pq_index,
        )
        from ..sources.readers import load_table

        spark = batch_df.sparkSession
        queries = batch_df.select("query_id", "q_emb")
        if codes_path is not None and nprobe is not None:
            result = ivf_adc_topk_for_queries(
                spark, codes_path, queries, k, nprobe, exclude_self=False
            )
        elif codes_path is not None:
            codes, cents = load_pq_index(spark, codes_path)
            result = adc_topk_for_queries(
                None, queries, k, codes=codes.select("vec_id", "codes"),
                cents=cents, exclude_self=False,
            )
        else:
            emb = load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            )
            result = adc_topk_for_queries(
                emb, queries, k, exclude_self=False
            )
        result.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return apply


def foreach_batch_profile_monitor(
    out_path: str,
    columns: tuple[tuple[str, str], ...] | None = None,
    approx: bool = True,
) -> Callable[[DataFrame, int], None]:
    """Streaming data-quality profiling: per micro-batch, the single-scan
    per-column profile (nulls / cardinality / bounds) of the batch —
    the profile twin of :func:`foreach_batch_drift_monitor`, computed by
    the SAME profiling.profile_frame core as the batch catalog entry so
    the two faces cannot drift.  ``approx=True`` (the default here,
    unlike batch) uses HLL cardinalities — the right spelling for a
    monitor that runs on every batch forever.

    Per batch: one map-side-combined aggregate over the batch, exploded
    to column-grain rows; no cross-batch state, so exactly-once is the
    batch_id=N overwrite discipline.  A consumer reads ``out_path`` with
    batch_id as a partition column and alerts on null-rate or
    cardinality excursions (the schema-ish failures PSI cannot see:
    an upstream change nulling a column shifts no distribution mass but
    spikes n_null immediately)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.profiling import PROFILE_COLUMNS, profile_frame

        cols = columns if columns is not None else tuple(
            (c, k)
            for c, k in PROFILE_COLUMNS
            if c in batch_df.columns
        )
        profile_frame(batch_df, cols, approx=approx).write.mode(
            "overwrite"
        ).parquet(f"{out_path}/batch_id={batch_id}")

    return apply


def foreach_batch_quantile_monitor(
    reference_quantiles: list[float],
    out_path: str,
    value_col: str = "value",
) -> Callable[[DataFrame, int], None]:
    """Streaming BINLESS numeric-drift monitor: per micro-batch, each
    probe quantile of the batch's ``value_col`` against a FROZEN
    reference quantile array (profiling.quantile_reference over the
    trusted snapshot), reported in reference-IQR units — the third
    monitoring face beside the categorical PSI monitor and the column
    profiler, sharing profiling._quantile_report_from so the shift math
    (degenerate-IQR guard included) is one definition.

    Per batch: one aggregate (the batch's exact quantile array — a
    micro-batch is bounded, so exact costs what approx costs) with the
    reference array embedded as plan literals; no cross-batch state, so
    exactly-once is the batch_id=N overwrite discipline."""
    from ..operators.profiling import DRIFT_QS

    if len(reference_quantiles) != len(DRIFT_QS):
        raise ValueError("reference_quantiles must match DRIFT_QS length")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.profiling import _quantile_report_from

        if batch_df.isEmpty():  # no values -> no report, not a null row
            return
        arr = ", ".join(repr(q) + "D" for q in DRIFT_QS)
        one = batch_df.agg(
            F.expr(f"percentile({value_col}, array({arr}))").alias("cq")
        ).select(
            F.array(
                *[F.lit(float(v)) for v in reference_quantiles]
            ).alias("rq"),
            "cq",
        )
        _quantile_report_from(one, DRIFT_QS).write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return apply


def foreach_batch_drift_monitor(
    reference_profile: DataFrame, out_path: str
) -> Callable[[DataFrame, int], None]:
    """Streaming distribution-drift monitor: per micro-batch, the
    categorical PSI of the batch's ``event_type`` mix against a FROZEN
    reference profile — the streaming face of
    operators/profiling.py:categorical_drift_report (the score math is
    the SAME function, profiling.psi_report, so the two cannot drift).

    ``reference_profile`` is (event_type, n_ref) — e.g. the trusted
    snapshot's counts, category-grain and tiny.  Categories are the UNION
    of reference and batch (full-outer + zero-fill): a type the reference
    never saw registers as finite positive drift via Laplace smoothing,
    not a crash — exactly what an ingest alert wants from schema-ish
    drift.

    Per batch: one map-side-combined count of the batch + category-grain
    joins; no state between batches (each report stands alone against the
    frozen reference), so exactly-once is the batch_id=N overwrite
    discipline shared with the other foreachBatch sinks here.  The
    monitor's consumer reads ``out_path`` with batch_id as a partition
    column and alerts on ``psi_total`` (conventional: >0.25 = drifted).
    """
    ref = reference_profile.select("event_type", "n_ref")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.profiling import psi_report

        cur = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_cur")
        )
        counts = (
            ref.join(cur, "event_type", "full_outer")
            .select(
                "event_type",
                F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            )
        )
        psi_report(counts, "event_type").write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return apply


def foreach_batch_segment_scrub(
    store_path: str,
    out_path: str,
    n: int | None = None,
    max_doc_freq: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming boilerplate scrubbing: each micro-batch's documents are
    rewritten without the segments whose CORPUS-LIFETIME distinct-document
    frequency (all prior batches + this one) exceeds ``max_doc_freq`` —
    the ingest-time face of operators/segment_dedup.scrub_common_segments,
    the same relationship foreach_batch_lsh_dedup has to the batch LSH
    dedup.

    State = a parquet frequency store ``(segment, n_docs)`` appended per
    batch, NOT executor state-store memory: segment frequency is
    corpus-lifetime (a boilerplate string arriving a month later is still
    boilerplate), far beyond any watermark.  doc_ids are unique across
    batches, so per-batch distinct counts SUM to the global distinct
    count — the store is a mergeable aggregate, and the authority read is
    one small groupBy over it.

    Exactly-once under replay: both writes go to a ``batch_id=N``
    subdirectory with overwrite, and the count authority is ONLY prior
    batches (genstore.read_prior_generations) plus this batch's own
    recomputed counts — a replayed batch never double-counts its own
    half-written store rows.  The authority read is manifest-aware, so
    :func:`compact_segment_store` can fold old generations into a
    negative-id base without the handler noticing.

    Streaming-vs-batch contract (pinned in tests/test_segment_dedup.py):
    a segment's offender status uses all data seen SO FAR, so the handler
    equals the batch operator on any single batch, and the frequency
    store always equals the batch operator's counts over the union of
    processed batches — but an already-emitted document is never
    retracted when a later batch pushes one of its segments over the
    threshold (the admit-the-first-copy semantics every streaming dedup
    here shares).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.segment_dedup import (
            MAX_DOC_FREQ,
            SEG_TOKENS,
            doc_segments,
            scrub_against_offenders,
        )

        from ..sources.genstore import read_prior_generations

        # `is None`, not `or`: max_doc_freq=0 (scrub anything repeated
        # at all) is a legal knob value, not "unset"
        seg_n = SEG_TOKENS if n is None else n
        freq = MAX_DOC_FREQ if max_doc_freq is None else max_doc_freq
        spark = batch_df.sparkSession
        docs = batch_df.select(
            "doc_id", "text", F.lit("stream").alias("source")
        )
        prior = read_prior_generations(spark, store_path, batch_id)
        if prior is None:
            prior = spark.createDataFrame([], "segment string, n_docs long")
        # reused by the count aggregate AND the scrub probe — one explode
        segs = doc_segments(docs, seg_n).transform(pin)
        batch_counts = segs.groupBy("segment").agg(
            F.countDistinct("doc_id").alias("n_docs")
        )
        prior = prior.groupBy("segment").agg(F.sum("n_docs").alias("prior_docs"))
        offenders = (
            batch_counts.join(prior, "segment", "full_outer")
            .where(
                F.coalesce("n_docs", F.lit(0))
                + F.coalesce("prior_docs", F.lit(0))
                > freq
            )
            .select("segment")
        )
        scrub_against_offenders(docs, segs, offenders).write.mode(
            "overwrite"
        ).parquet(f"{out_path}/batch_id={batch_id}")
        batch_counts.write.mode("overwrite").parquet(
            f"{store_path}/batch_id={batch_id}"
        )

    return apply


def compact_segment_store(
    spark,
    store_path: str,
    keep_latest: int = 1,
    gc_immediately: bool = True,
) -> int:
    """Fold the segment-frequency store's per-micro-batch ``batch_id=N``
    generations into a fresh base — the scrub store's compaction story,
    completing the generational set (band store, PQ codes, BM25 postings
    have theirs).  Returns the number of generations folded.

    The store is a MERGEABLE aggregate (per-batch distinct-doc counts sum
    to the global count), so unlike the band store the fold does not just
    re-layout rows: the new base PRE-AGGREGATES to one row per distinct
    segment, shrinking the authority read the handler pays every batch.
    Read-time merging is a groupBy-sum either way, so folded and unfolded
    stores are indistinguishable to the handler.

    ``keep_latest`` newest appends stay unfolded (streaming replay
    exclusion), and publication is the genstore manifest-pointer commit —
    see compact_band_store for the replay and fresh-checkpoint contract,
    which applies verbatim."""
    from ..sources.genstore import content_bytes, fold_generations

    def write_new_base(live_filter, new_base: int) -> None:
        n_files = max(1, content_bytes(spark, store_path) // (128 << 20))
        (
            spark.read.option("basePath", store_path)
            .parquet(store_path)
            .filter(live_filter)
            .groupBy("segment")
            .agg(F.sum("n_docs").alias("n_docs"))
            .coalesce(int(n_files))
            .write.mode("overwrite")
            .parquet(f"{store_path}/batch_id={int(new_base)}")
        )

    return fold_generations(
        spark,
        store_path,
        [store_path],
        write_new_base,
        keep_latest=keep_latest,
        gc_immediately=gc_immediately,
    )


# ---------------------------------------------------------------------------
# Streaming face of the trained quality filter (operators/model_filter.py)
# ---------------------------------------------------------------------------


def save_quality_weights(spark, path: str, w: list[float]) -> None:
    """Persist a trained LR weight vector as ONE parquet row — the
    deployment artifact the streaming gate loads.  Train offline with
    :func:`~..operators.model_filter.train_quality_lr` (the driver
    collects one 64-double row per GD step; this writes the final one),
    version by path."""
    spark.createDataFrame([(w,)], "w array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_quality_weights(spark, path: str) -> list[float]:
    """Load a :func:`save_quality_weights` artifact back into the
    driver-side constant list the scoring expression embeds."""
    return list(spark.read.parquet(path).first()["w"])


def foreach_batch_quality_gate(
    w: list[float],
    out_path: str,
    threshold: float | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming deployment of the trained quality filter: every
    micro-batch's documents are scored under the FIXED pre-trained
    weights ``w`` and written with their verdicts — the classifier-filter
    recipe's serving half (train offline on reference-vs-crawl, gate the
    ingest stream), completing the train-batch / score-stream duality the
    LSH dedup and segment-scrub tiers already have.

    Deliberately STATELESS — no generational store: a document's quality
    score depends only on the document and the weights, not on corpus
    history, so the weights (a one-row parquet artifact,
    :func:`save_quality_weights`) are the only state and batches never
    read each other.  Exactly-once is therefore just the ``batch_id=N``
    overwrite discipline.

    Degrade-per-row: NULL/tokenless documents carry no features, score
    NULL, and are written with ``keep`` NULL — visible to the consumer,
    never silently dropped and never a crash (the scrub pass-through
    convention).  Per-batch output is pinned equal to the batch operator
    (`score_documents` over the same rows) in tests/test_model_filter.py.
    """
    from ..operators.model_filter import (
        LR_KEEP_THRESHOLD,
        doc_features,
        score_documents,
    )

    thr = LR_KEEP_THRESHOLD if threshold is None else threshold

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select(
            "doc_id", "text", F.lit("stream").alias("source")
        )
        feats = doc_features(docs)
        scored = score_documents(feats, w).select(
            "doc_id",
            "score",
            (F.col("score") > F.lit(thr)).alias("keep"),
        )
        (
            docs.select("doc_id", "text")
            .join(scored, "doc_id", "left")
            .write.mode("overwrite")
            .parquet(f"{out_path}/batch_id={batch_id}")
        )

    return apply
