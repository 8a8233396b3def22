#!/usr/bin/env python3
"""Benchmark runner: headline catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (see :func:`_compact_line`):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the ``noop`` sink (computes every
column and row; no driver collect, no result-size bias).  The full payload,
written to .benchmarks/, adds raw samples, the streaming tier and
``queries_ledger``: per headline query, the Spark jobs, stages, tasks,
executor time, bytes and codegen compiles of the sample whose wall is
reported.  Those counts do not drift with the host, so they are the
run-to-run regression signal.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time


def main() -> None:
    # Runnable from any cwd: the engine package lives next to this file.
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from hadoop_pyspark_streaming_analytics_spark.monitoring import codegen_compiles
    from hadoop_pyspark_streaming_analytics_spark.plans.catalog import CATALOG
    from hadoop_pyspark_streaming_analytics_spark.session import get_spark
    from perfbench.probes import Ledger

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("WARN")

    specs = [s for s in CATALOG if s.headline]
    # Warm-up: run every headline query once at the smallest SF so JIT /
    # whole-stage-codegen compilation and parquet footer caches are paid
    # before measurement — bench numbers are steady-state execution, not
    # first-query JVM warm-up (which dominated: 5.2s cold vs 2.0s warm).
    # Codegen is paid once only because get_spark sizes the codegen cache
    # to the catalog's working set; at Spark's 100 entries every timed
    # sample recompiled its classes.  Each ledger row's codegen_compiles
    # shows it.
    warm_dir = "/root/testdata/sf0.001"
    import gc

    for spec in specs:
        try:
            spec.builder(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass
        # Release the Python-side DataFrame refs so py4j drops the JVM
        # handles and the ContextCleaner can reclaim localCheckpoint blocks
        # — otherwise checkpointed RDDs from every prior query accumulate
        # in block-manager memory and skew later measurements.
        gc.collect()

    # Work ledger from here on: the warm-up's jobs belong to no sample.
    ledger = Ledger(spark)

    # Steady-state timing: best of 2 measured runs per query (single-JVM
    # local mode has ~±0.5 s GC/scheduler noise per query; min-of-N is the
    # standard microbenchmark estimator for the noise-free cost).
    # Sub-second queries get a THIRD measured run (VERDICT r6 item 3):
    # fixed per-query job overhead dominates down there, so two samples
    # can both land on the same scheduler hiccup and flag a phantom
    # slowdown — the r6 events_sliding/hourly 1.30x case.
    # Samples are taken ROUND-ROBIN (pass 1 over every query, then pass
    # 2) rather than back-to-back (round 9): within-run drift — GC debt,
    # block-manager pressure, page-cache churn accumulating through the
    # run — hits ADJACENT samples equally, so back-to-back min-of-2
    # couldn't cancel it (observed: two same-code runs flagged DISJOINT
    # ~7-query "regression" sets at 1.3-2.5x raw).  Interleaving puts a
    # whole run between a query's samples, so min-of-2 sees two
    # independent draws of the run-level noise.
    # Raw per-query samples are reported so variance is auditable.
    timings_raw: dict[str, list[float]] = {spec.name: [] for spec in specs}
    work_raw: dict[str, list[dict]] = {spec.name: [] for spec in specs}

    def _sample(spec) -> None:
        compiles0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        df = spec.builder(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings_raw[spec.name].append(round(time.perf_counter() - t0, 3))
        work = ledger.collect()  # outside the timer
        work["codegen_compiles"] = codegen_compiles(spark) - compiles0
        work_raw[spec.name].append(work)
        gc.collect()

    for _pass in range(2):
        for spec in specs:
            _sample(spec)
    for spec in specs:  # third draw for overhead-dominated fast queries
        if min(timings_raw[spec.name]) < 1.0:
            _sample(spec)
    for spec in specs:  # third draw for high-spread pairs (VERDICT r15
        # item 4): a 3-4x swing between two samples is either a one-off
        # GC/co-scheduling hit or a real warm-state sensitivity, and two
        # samples cannot say which.  The round-16 instrumented repeats
        # (SCALE.md "bench repeat-tail adjudication") showed storage/
        # checkpoint debt does NOT accumulate across the pass (12 MB of
        # 456 MB after a full sf0.1 pass; identical query time before and
        # after a forced cleaner drain), so a tail sample is noise — the
        # extra draw makes that auditable per run instead of assumed.
        s = timings_raw[spec.name]
        if len(s) == 2 and max(s) > 2.0 * min(s):
            _sample(spec)
    timings = {name: min(s) for name, s in timings_raw.items()}
    queries_ledger = {}
    for name, s in timings_raw.items():
        work = work_raw[name][s.index(timings[name])]
        queries_ledger[name] = {
            "jobs": work["jobs"],
            "codegen_compiles": work["codegen_compiles"],
            **work["sums"],
        }

    # Tier hygiene: the batch tier leaves cached relations, checkpoint
    # blocks, and GC debt in the shared JVM — observed inflating the
    # streaming wall ~2x versus a standalone run (r7).  Clear what is
    # clearable and let the cleaner drain before the streaming tier.
    spark.catalog.clearCache()
    for _ in range(3):
        gc.collect()
    streaming = _bench_streaming(spark)

    total = round(sum(timings.values()), 3)
    # Round-over-round comparability: ``value`` grows whenever the headline
    # set grows, so also report the frozen ROUND-2 core set (24 queries) —
    # core_total is the number to diff against BENCH_r02/r03 regardless of
    # how many headline queries later rounds add.
    core_total = round(
        sum(t for name, t in timings.items() if name in CORE_QUERIES), 3
    )
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_raw": timings_raw,
        "core_total": core_total,
        "core_n": sum(1 for n in timings if n in CORE_QUERIES),
        "sf": sf,
        # $SPARK_GRAFT_CPUS uptake, auditable (VERDICT r16 item 2/3: the
        # driver's 8-vs-32-core scaling check flagged suspect_cpus_ignored
        # because nothing in the output PROVED the env-driven master took
        # effect; these two fields are read from the live SparkContext).
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        # Derived from default_parallelism unless the session pinned it;
        # payload-only, the compact stdout line stays under its cap.
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "queries_ledger": queries_ledger,
        **streaming,
        **_host_identity(),
    }
    # Persist BEFORE printing (VERDICT r6 item 2): the driver's tail
    # capture truncated BENCH_r06's single JSON line (parsed: null); the
    # .benchmarks/ copy is the durable record of the full payload.
    payload_path = _persist_summary(summary, _round_id())
    print(json.dumps(_compact_line(summary, payload_path)))
    spark.stop()


def _compact_line(summary: dict, payload_path: str) -> dict:
    """The contract line, COMPACT (VERDICT r16 item 2): the full summary
    line outgrew the driver's 2000-char stdout tail capture (BENCH_r15
    parsed: null — the line's START fell outside the window).  Only the
    contract fields ({metric, value, unit, queries, sf}) and the scalar
    audit fields go to stdout, ~1.7 KB at 44 queries and pytest-capped in
    tests/test_bench_history.py; ``payload`` points at the full summary
    under .benchmarks/."""
    return {
        "metric": summary["metric"],
        "value": summary["value"],
        "unit": summary["unit"],
        "queries": summary["queries"],
        "sf": summary["sf"],
        "core_total": summary["core_total"],
        "core_n": summary["core_n"],
        "master": summary["master"],
        "default_parallelism": summary["default_parallelism"],
        "streaming_3query_wall_sec": summary.get("streaming_3query_wall_sec"),
        "payload": os.path.relpath(
            payload_path, os.path.dirname(os.path.abspath(__file__))
        ),
    }


def _bench_dir() -> str:
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".benchmarks"
    )


def _round_id() -> int:
    """The in-flight round number: the driver writes CORRECTNESS_r{N}.json
    at the END of round N, so the current round is max(existing)+1.  A
    post-round re-run (CORRECTNESS_r{N} already present for this round's
    own results) only shifts which file the summary lands in."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(
            os.path.join(os.path.dirname(_bench_dir()), "CORRECTNESS_r*.json")
        )
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def _persist_summary(summary: dict, round_id: int) -> str:
    """Write the full summary dict (however large — BENCH_r06's line
    outgrew the driver's tail capture at ~2 KB of quoting overhead) to
    .benchmarks/bench_r{N}.json, overwriting any same-round re-run.

    The summary self-identifies its round basis (VERDICT r7 "wrong" #4:
    a bench run launched AFTER the driver wrote this round's
    CORRECTNESS file — e.g. the driver's own end-of-round run — derives
    round_id = N+1, so bench_r08.json can hold round 7's in-flight
    numbers; the stamped fields let an auditor see exactly which
    CORRECTNESS files the id was derived from instead of inferring it
    from filenames)."""
    summary["bench_round_id"] = round_id
    summary["bench_round_basis"] = (
        f"max(CORRECTNESS_r*.json)={round_id - 1} at run time; "
        "filenames are in-flight-round labels, not driver-round labels"
    )
    d = _bench_dir()
    os.makedirs(d, exist_ok=True)
    # The history grain is (round, sf=0.1) — the SF the driver benches
    # at.  A verification run at another SF (e.g. the sf0.01 smoke in
    # .claude/skills/verify) must NOT clobber that history file (it did
    # once, in round 8): off-default SFs land in an sf-suffixed file.
    sf = summary.get("sf")
    suffix = "" if sf == 0.1 else f"_sf{sf}"
    path = os.path.join(d, f"bench_r{round_id:02d}{suffix}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(summary, f, indent=1)
    os.replace(tmp, path)
    return path


def _host_identity() -> dict:
    """Anonymous host fingerprint (VERDICT r8 item 8): rounds that ran on
    different hosts need no manual adjudication once the summary says so.
    The hostname is hashed (an identity, not a leak); cpu count and
    memory are the capacity facts a reader needs to judge comparability."""
    import hashlib
    import platform

    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return {
        "host_id": hashlib.sha256(platform.node().encode()).hexdigest()[:8],
        "host_cpus": os.cpu_count(),
        "host_mem_gb": round(mem_kb / 1048576, 1),
    }


# The 24 headline queries of BENCH_r02.json, frozen for cross-round
# comparability (see core_total above).  Do NOT edit when adding headline
# queries — new ones are reported in ``queries``/``value`` only.
CORE_QUERIES = frozenset(
    {
        "ann_brute_force_topk", "ann_ivf_search", "corpus_tfidf_top_terms",
        "dedup_components", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "events_hourly_rollup", "events_resample_hourly_locf",
        "events_session_attribution", "events_sliding_10min_5min",
        "events_tumbling_5min", "events_user_sessions", "pack_documents",
        "q1_word_count_top20", "q2a_customer_summary",
        "q2b_customer_orders_window", "q3a_product_statistics",
        "q3b_customer_brand_pivot", "q3b_customer_brand_unpivot",
        "star_local_supplier_volume", "star_pricing_summary",
        "star_shipping_priority", "temporal_asof_last_click",
        "text_quality_scores",
    }
)


def _bench_streaming(spark, n_rows: int = 50_000) -> dict:
    """The reference's ONE published performance fact is streaming lag: its
    3 concurrent queries (running stats / tumbling / sliding) took
    ~16.4-18.0 s per ~100-150-row micro-batch against a 10 s trigger
    (BASELINE.md, q4_streaming.ipynb warnings).  Measure the same 3-query
    workload here: one micro-batch of ``n_rows`` sensor readings processed
    to completion by all three queries concurrently.

    Measurement protocol (matched to the batch tier after the r3 2.3×
    phantom regression, VERDICT r3 item 3; interleaved since round 11,
    VERDICT r10 item 2): one small warm-up pass pays state-store +
    memory-sink + file-listing init, then TWO measured passes at
    ``n_rows`` interleaved round-robin with the other streaming figures'
    samples (min reported, raw wall pair recorded); per-query
    processAllAvailable splits are reported so a state-store or listing
    stall is attributable."""
    import datetime as dt
    import shutil
    import tempfile
    import time

    from hadoop_pyspark_streaming_analytics_spark.sources.readers import (
        read_sensor_stream,
    )
    from hadoop_pyspark_streaming_analytics_spark.streaming.harness import MemorySinkRun
    from hadoop_pyspark_streaming_analytics_spark.streaming.queries import (
        running_sensor_stats,
        sliding_window_max,
        tumbling_window_stats,
        with_event_time,
    )

    def write_batch(watch: str, rows: int) -> None:
        base = dt.datetime(2024, 1, 16)
        with open(f"{watch}/batch0.json", "w") as f:
            for i in range(rows):
                ts = (base + dt.timedelta(seconds=i % 1800)).isoformat()
                f.write(
                    '{"sensor_id": "S%03d", "temperature": %.1f, "timestamp": "%s"}\n'
                    % (i % 10 + 1, 50.0 + (i % 400) / 10.0, ts)
                )

    def run_once(rows: int) -> tuple[float, dict[str, float]]:
        watch = tempfile.mkdtemp(prefix="bench_stream_")
        write_batch(watch, rows)
        runs, splits = [], {}
        try:
            t0 = time.perf_counter()
            stream = with_event_time(read_sensor_stream(spark, watch))
            runs = [
                ("running", MemorySinkRun(spark, running_sensor_stats(stream), output_mode="update")),
                ("tumbling", MemorySinkRun(spark, tumbling_window_stats(stream), output_mode="update")),
                ("sliding", MemorySinkRun(spark, sliding_window_max(stream), output_mode="update")),
            ]
            for qname, r in runs:
                q0 = time.perf_counter()
                r.process_all()
                splits[qname] = round(time.perf_counter() - q0, 3)
            wall = round(time.perf_counter() - t0, 3)
        finally:
            for _, r in runs:
                r.stop()
            shutil.rmtree(watch, ignore_errors=True)
        return wall, splits

    # INTERLEAVED two-sample protocol (VERDICT r10 item 2): the 3-query
    # headline was the last multi-second streaming figure still measured
    # back-to-back best-of-2, and four same-code runs of it disagreed
    # 4-5× (3.951 s driver r9 vs 16.1/21.7/16.9 s locally) — single-run
    # or adjacent sampling of this workload measures host state.  Every
    # figure's setup + warm-up is paid up front (the samplers yield a
    # measured-sample callable), then samples run round-robin — 3query,
    # adc, adc_pruned, lexical, curation, 3query, adc, ... — so a host
    # stall window can hit at most ONE sample of each figure, the same
    # rationale as the multibatch arms.  Min reported, raw pairs kept.
    with (
        _streaming_retrieval_sampler(spark) as adc,
        _streaming_retrieval_sampler(spark, nprobe=2) as adcp,
        _streaming_lexical_sampler(spark) as lex,
        _streaming_curation_sampler(spark) as cur,
    ):
        # 3-query warm-up AFTER the other samplers' setup/warm-up work,
        # immediately before the first measured sample — setup churn
        # (index builds, BPE training) must not evict what it just paid.
        run_once(2_000)  # state-store / sink / listing init
        walls, all_splits, curs, stages_by_run = [], [], [], []
        raw: dict[str, list[float]] = {}
        splits: dict[str, float] = {}
        for _ in range(2):
            w, s = run_once(n_rows)
            walls.append(w)
            all_splits.append(s)
            raw.setdefault("adc_retrieval", []).append(adc())
            raw.setdefault("adc_retrieval_pruned", []).append(adcp())
            raw.setdefault("lexical_retrieval", []).append(lex())
            cw, cs = cur()
            curs.append(cw)
            stages_by_run.append(cs)
    wall = min(walls)
    best = all_splits[walls.index(wall)]
    splits.update(best)
    for q in all_splits[0]:
        raw[q] = [s[q] for s in all_splits]
    for name in ("adc_retrieval", "adc_retrieval_pruned", "lexical_retrieval"):
        splits[name] = min(raw[name])
    splits["curation"] = min(curs)
    raw["curation"] = curs
    multibatch = _bench_streaming_curation_multibatch(spark)
    seg_multibatch = _bench_streaming_segment_scrub_multibatch(spark)
    return {
        "streaming_3query_rows": n_rows,
        "streaming_3query_wall_sec": wall,
        # Raw wall pair for the ONE figure tied to the reference baseline
        # (VERDICT r10 item 2: the r9↔r10 4× swing needs auditable pairs).
        "streaming_3query_wall_raw_sec": walls,
        "streaming_sample_protocol": "interleaved-2sample-roundrobin",
        "streaming_query_splits_sec": splits,
        "streaming_query_splits_raw_sec": raw,
        # per-stage attribution for the heaviest streaming split
        # (VERDICT r6 item 8): stages of the best measured curation run
        "streaming_curation_stage_sec": stages_by_run[curs.index(min(curs))],
        # generation-accumulation vs auto-compaction (VERDICT r7 item 5)
        **multibatch,
        # segment-frequency store compaction figures (VERDICT r12 item 5)
        **seg_multibatch,
    }


@contextlib.contextmanager
def _streaming_lexical_sampler(spark, n_queries: int = 32):
    """Online BM25 retrieval: one micro-batch of ``n_queries`` term
    queries scored against the MATERIALIZED inverted index via the
    foreachBatch lexical handler (build-once outside the timed window,
    the adc_retrieval convention).  Queries cycle through corpus-derived
    term triples so the isin-pruned postings scan does real work.
    Yields a measured-sample callable (setup + warm-up paid) for
    _bench_streaming's interleaved round-robin."""
    import json as _json
    import shutil
    import tempfile
    import time

    from hadoop_pyspark_streaming_analytics_spark.operators.retrieval import (
        materialize_text_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_bm25_topk,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    idx = tempfile.mkdtemp(prefix="bench_text_idx_")
    watch = tempfile.mkdtemp(prefix="bench_bm25_q_")
    try:
        materialize_text_index(spark, sf_dir, idx)
        # top corpus tokens -> rotating query triples (deterministic)
        top = [
            r["token"]
            for r in spark.read.parquet(f"{idx}/postings")
            .groupBy("token")
            .count()
            .orderBy("count", ascending=False)
            .limit(3 * n_queries)
            .collect()
        ]
        with open(f"{watch}/q0.json", "w") as f:
            for i in range(n_queries):
                terms = [top[(3 * i + j) % len(top)] for j in range(3)]
                f.write(
                    _json.dumps({"query_id": i, "terms": terms}) + "\n"
                )

        def run_once() -> float:
            work = tempfile.mkdtemp(prefix="bench_bm25_")
            try:
                t0 = time.perf_counter()
                q = (
                    spark.readStream.schema(
                        "query_id long, terms array<string>"
                    )
                    .json(watch)
                    .writeStream.foreachBatch(
                        foreach_batch_bm25_topk(idx, f"{work}/hits")
                    )
                    .option("checkpointLocation", f"{work}/ckpt")
                    .start()
                )
                q.processAllAvailable()
                q.stop()
                return round(time.perf_counter() - t0, 3)
            finally:
                shutil.rmtree(work, ignore_errors=True)

        run_once()  # warm-up
        yield run_once
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(watch, ignore_errors=True)


@contextlib.contextmanager
def _streaming_curation_sampler(spark, n_docs: int = 5_000):
    """The streaming curation pipeline end-to-end (VERDICT r5 item 6): one
    micro-batch of ``n_docs`` raw documents through ingest → model quality
    gate → LSH near-dup dedup (fresh band store) → BPE tokenize → parquet,
    via the foreach_batch_curation handler under a real writeStream.  The
    tokenizer merge table is trained OUTSIDE the timed window (build-once
    artifact, like the PQ index for adc_retrieval).  Yields a
    measured-sample callable returning (wall, stage dict) — setup +
    warm-up paid — for _bench_streaming's interleaved round-robin."""
    import json as _json
    import shutil
    import tempfile
    import time

    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import bpe_merges
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_curation,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    merges = [
        (r["lft"], r["rgt"])
        for r in bpe_merges(spark, sf_dir).orderBy("step").collect()
    ]
    watch = tempfile.mkdtemp(prefix="bench_curation_q_")
    try:
        rows = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .limit(n_docs)
            .collect()
        )
        with open(f"{watch}/b0.json", "w") as f:
            for r in rows:
                f.write(
                    _json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                    + "\n"
                )

        def run_once() -> tuple[float, dict]:
            work = tempfile.mkdtemp(prefix="bench_curation_")
            stages: dict[str, float] = {}
            try:
                t0 = time.perf_counter()
                q = (
                    spark.readStream.schema("doc_id long, text string")
                    .json(watch)
                    .writeStream.foreachBatch(
                        foreach_batch_curation(
                            f"{work}/bands", f"{work}/out", merges,
                            stage_times=stages,
                        )
                    )
                    .option("checkpointLocation", f"{work}/ckpt")
                    .start()
                )
                q.processAllAvailable()
                q.stop()
                return round(time.perf_counter() - t0, 3), stages
            finally:
                shutil.rmtree(work, ignore_errors=True)

        run_once()  # warm-up
        yield run_once
    finally:
        shutil.rmtree(watch, ignore_errors=True)


def _bench_streaming_curation_multibatch(
    spark, n_docs: int = 5_000, n_batches: int = 10
) -> dict:
    """Sustained-ingest curation (VERDICT r7 item 5): the SAME document
    volume as the single-batch figure, fed as ``n_batches`` micro-batches
    so the band store accumulates one generation per batch — the regime
    where the prior-batches authority semi-join pays per-generation
    listing/footer overhead forever.  Two runs over identical input:
    without compaction, and with ``compact_every=3`` auto-folding from
    inside the handler (keep_latest=1, the replay contract; since the
    BENCH_r08 regression the trigger is also size-gated — appends must
    match the base's bytes before a fold fires, so 10 batches see at
    most ~2 folds and each byte is rewritten O(log N) times, not
    N/3 times).  Reported per arm: total wall for the drain, the LAST
    batch's lsh_dedup split — the last batch faces the most prior
    generations, so it isolates the accumulation effect the compactor
    exists to cap — and the fold's accumulated wall as its OWN figure
    (VERDICT r9 item 2: a fold firing inside a batch must be visible as
    fold time, not billed to the drain undifferentiated).  At 10
    batches the honest expectation is parity (compaction's crossover is
    thousands of generations — see SCALE.md's auto-compaction note);
    the figure exists so a regressing compactor is VISIBLE, not to
    showcase a win this small.

    TWO samples per arm, interleaved, min reported (VERDICT r9 item 2:
    BENCH_r09's single-run-per-arm figure showed +78% on one host and
    -22% on another for the SAME code — single runs of this workload
    measure host state; interleaving means within-run host drift cannot
    hit both of one arm's samples, the round-robin rationale the batch
    tier uses).  Raw pairs are reported alongside the min so the
    variance is auditable.

    A third VACUUM arm (VERDICT r9 item 6) gives the retention-GC path
    a measured figure: same ingest, one DEFERRED-GC fold mid-drain
    (``gc_immediately=False`` — superseded generations stay on disk for
    concurrent readers), with ``vacuum_cadence(every=7)`` composed into
    the handler and called on EVERY batch (ADVICE r10: the arm now
    drives the cadence wrapper itself, every-N gate included, not
    vacuum_store directly) — its one firing lands two batches after the
    fold and physically GCs the superseded directories; that firing's
    wall is reported.  The fold/vacuum are composed bench-side around
    the plain handler — exactly how a maintenance stream composes them
    in production (streaming/extensions.py:vacuum_cadence docstring) —
    single sample: the figure prices a sub-second control-plane op,
    not a paired claim."""
    import json as _json
    import shutil
    import tempfile
    import time

    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import bpe_merges
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_curation,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    merges = [
        (r["lft"], r["rgt"])
        for r in bpe_merges(spark, sf_dir).orderBy("step").collect()
    ]
    watch = tempfile.mkdtemp(prefix="bench_curation_mb_q_")
    try:
        rows = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .limit(n_docs)
            .collect()
        )
        per = max(1, len(rows) // n_batches)
        for i in range(n_batches):
            with open(f"{watch}/b{i:02d}.json", "w") as f:
                for r in rows[i * per : (i + 1) * per]:
                    f.write(
                        _json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                        + "\n"
                    )

        def run_once(compact_every, vacuum: bool = False) -> tuple[float, dict]:
            work = tempfile.mkdtemp(prefix="bench_curation_mb_")
            stages: dict[str, float] = {}
            inner = foreach_batch_curation(
                f"{work}/bands", f"{work}/out", merges,
                stage_times=stages,
                compact_every=compact_every,
            )
            # Accumulate the fold stage across batches: the handler's
            # stage_times holds only the LAST batch, but a fold can fire
            # mid-drain — without the running total it lands in the wall
            # undifferentiated (the BENCH_r09 attribution gap).
            fold_total = [0.0]
            if vacuum:
                from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
                    compact_band_store,
                    vacuum_cadence,
                )

                # The cadence wrapper IS the arm under test (ADVICE r10:
                # the bench used to call vacuum_store directly, so the
                # every-N gate was never exercised): every batch routes
                # through it; with every=7 over a 10-batch drain it fires
                # exactly once — two batches after the deferred-GC fold
                # at batch 5, the production maintenance composition (any
                # reader that resolved the pre-fold manifest within that
                # window finishes its scan).
                vac = vacuum_cadence(f"{work}/bands", every=7)

            def handler(batch_df, batch_id):
                inner(batch_df, batch_id)
                fold_total[0] += stages.pop("compact", 0.0)
                if vacuum:
                    if batch_id == 5:
                        tc = time.perf_counter()
                        compact_band_store(
                            batch_df.sparkSession, f"{work}/bands",
                            keep_latest=1, gc_immediately=False,
                        )
                        fold_total[0] += time.perf_counter() - tc
                    tv = time.perf_counter()
                    vac(batch_df, batch_id)
                    if batch_id > 0 and batch_id % 7 == 0:
                        stages["vacuum"] = round(time.perf_counter() - tv, 3)

            try:
                t0 = time.perf_counter()
                q = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .json(watch)
                    .writeStream.foreachBatch(handler)
                    .option("checkpointLocation", f"{work}/ckpt")
                    .start()
                )
                q.processAllAvailable()
                q.stop()
                stages["fold_total"] = round(fold_total[0], 3)
                return round(time.perf_counter() - t0, 3), stages
            finally:
                shutil.rmtree(work, ignore_errors=True)

        # Untimed warmup: one 2-batch drain so neither timed arm pays
        # first-use codegen/classloading for the curation path — without
        # it the FIRST arm absorbs a 5-50 s cold penalty and the paired
        # comparison measures JVM state, not compaction (observed while
        # chasing the r8 "compaction regresses" figure: the same arms
        # measured 87.8/39.7 cold-first vs 35.3/31.3 warm).
        warm = tempfile.mkdtemp(prefix="bench_curation_mb_warm_")
        try:
            for i in range(2):
                os.link(f"{watch}/b{i:02d}.json", f"{warm}/b{i:02d}.json")
            run_once_dir = warm
            work = tempfile.mkdtemp(prefix="bench_curation_mb_w_")
            try:
                q = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .json(run_once_dir)
                    .writeStream.foreachBatch(
                        foreach_batch_curation(
                            f"{work}/bands", f"{work}/out", merges,
                            compact_every=2,
                        )
                    )
                    .option("checkpointLocation", f"{work}/ckpt")
                    .start()
                )
                q.processAllAvailable()
                q.stop()
            finally:
                shutil.rmtree(work, ignore_errors=True)
        finally:
            shutil.rmtree(warm, ignore_errors=True)

        # Interleaved 2 samples per paired arm; min is the headline,
        # raw pairs recorded (the batch tier's round-robin protocol).
        samples = {"no_compact": [], "auto_compact": []}
        for _pass in range(2):
            samples["no_compact"].append(run_once(None))
            samples["auto_compact"].append(run_once(3))
        best = {arm: min(runs, key=lambda r: r[0]) for arm, runs in samples.items()}
        vac_wall, vac_stages = run_once(None, vacuum=True)
        return {
            "streaming_curation_multibatch_batches": n_batches,
            "streaming_curation_multibatch_wall_sec": {
                arm: best[arm][0] for arm in samples
            } | {"vacuum_cadence": vac_wall},
            "streaming_curation_multibatch_wall_raw_sec": {
                arm: [r[0] for r in runs] for arm, runs in samples.items()
            },
            # stage_times holds the LAST processed batch's splits
            "streaming_curation_multibatch_last_lsh_sec": {
                arm: best[arm][1].get("lsh_dedup") for arm in samples
            },
            # accumulated fold wall across the drain, its own stage
            # (VERDICT r9 item 2) — for auto_compact this is the
            # size-gated in-handler trigger incl. its control calls;
            # for vacuum_cadence the one deferred-GC fold.
            "streaming_curation_multibatch_fold_sec": {
                arm: best[arm][1].get("fold_total") for arm in samples
            } | {"vacuum_cadence": vac_stages.get("fold_total")},
            # the retention-GC op itself (VERDICT r9 item 6)
            "streaming_curation_multibatch_vacuum_sec": vac_stages.get("vacuum"),
        }
    finally:
        shutil.rmtree(watch, ignore_errors=True)


def _bench_streaming_segment_scrub_multibatch(
    spark, n_docs: int = 5_000, n_batches: int = 10
) -> dict:
    """Sustained-ingest segment scrubbing (VERDICT r12 item 5): the
    segment-frequency store is the newest generational store, and until
    this figure its compaction story carried only pytest pins — same
    harness shape as the band-store multibatch figure above.  Two arms
    over identical input: the plain handler (one ``batch_id=N`` count
    generation appended per batch — the authority read pays
    per-generation listing/footer overhead forever), and the handler
    with ``compact_segment_store(keep_latest=1)`` composed bench-side
    every 3 batches (the maintenance-stream composition the vacuum arm
    established; the fold PRE-AGGREGATES history to one row per distinct
    segment, so unlike the band store it also shrinks the authority
    read, not just the file count).  Fold wall is accumulated and
    reported as its OWN figure (the BENCH_r09 attribution rule); at 10
    batches the honest expectation is parity — the figure exists so a
    regressing fold is visible, not to showcase a win this small.

    TWO samples per arm, interleaved, min reported, raw pairs kept —
    the multibatch protocol above, same host-drift rationale."""
    import json as _json
    import shutil
    import tempfile
    import time

    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        compact_segment_store,
        foreach_batch_segment_scrub,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    watch = tempfile.mkdtemp(prefix="bench_segscrub_mb_q_")
    try:
        rows = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .limit(n_docs)
            .collect()
        )
        per = max(1, len(rows) // n_batches)
        for i in range(n_batches):
            with open(f"{watch}/b{i:02d}.json", "w") as f:
                for r in rows[i * per : (i + 1) * per]:
                    f.write(
                        _json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                        + "\n"
                    )

        def run_once(compact_every) -> tuple[float, float]:
            work = tempfile.mkdtemp(prefix="bench_segscrub_mb_")
            inner = foreach_batch_segment_scrub(
                f"{work}/segs", f"{work}/out"
            )
            fold_total = [0.0]

            def handler(batch_df, batch_id):
                inner(batch_df, batch_id)
                if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                    tc = time.perf_counter()
                    compact_segment_store(
                        batch_df.sparkSession, f"{work}/segs", keep_latest=1
                    )
                    fold_total[0] += time.perf_counter() - tc

            try:
                t0 = time.perf_counter()
                q = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .json(watch)
                    .writeStream.foreachBatch(handler)
                    .option("checkpointLocation", f"{work}/ckpt")
                    .start()
                )
                q.processAllAvailable()
                q.stop()
                return (
                    round(time.perf_counter() - t0, 3),
                    round(fold_total[0], 3),
                )
            finally:
                shutil.rmtree(work, ignore_errors=True)

        # Untimed 2-batch warmup: the scrub path's codegen/classloading
        # must not be billed to the first measured arm (the curation
        # multibatch's cold-first lesson: 87.8 s cold vs 35.3 s warm for
        # the SAME arm).
        warm = tempfile.mkdtemp(prefix="bench_segscrub_mb_warm_")
        try:
            for i in range(2):
                os.link(f"{watch}/b{i:02d}.json", f"{warm}/b{i:02d}.json")
            work = tempfile.mkdtemp(prefix="bench_segscrub_mb_w_")
            try:
                q = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .json(warm)
                    .writeStream.foreachBatch(
                        foreach_batch_segment_scrub(
                            f"{work}/segs", f"{work}/out"
                        )
                    )
                    .option("checkpointLocation", f"{work}/ckpt")
                    .start()
                )
                q.processAllAvailable()
                q.stop()
            finally:
                shutil.rmtree(work, ignore_errors=True)
        finally:
            shutil.rmtree(warm, ignore_errors=True)

        samples = {"no_compact": [], "auto_compact": []}
        for _pass in range(2):
            samples["no_compact"].append(run_once(None))
            samples["auto_compact"].append(run_once(3))
        best = {arm: min(runs, key=lambda r: r[0]) for arm, runs in samples.items()}
        return {
            "streaming_segment_scrub_multibatch_batches": n_batches,
            # wall_sec is the full drain INCLUSIVE of the in-handler
            # compaction folds (the fold runs inside foreachBatch, so it
            # is genuinely on the drain's critical path); fold_sec below
            # reports the same folds' accumulated wall SEPARATELY, not
            # additionally — compare arms on wall, or on the derived
            # wall_minus_fold_sec for scrub-work parity (ADVICE r13).
            "streaming_segment_scrub_multibatch_wall_sec": {
                arm: best[arm][0] for arm in samples
            },
            "streaming_segment_scrub_multibatch_wall_raw_sec": {
                arm: [r[0] for r in runs] for arm, runs in samples.items()
            },
            "streaming_segment_scrub_multibatch_fold_sec": {
                arm: best[arm][1] for arm in samples
            },
            # the scrub-only wall: what the arm spent NOT compacting —
            # the like-for-like parity figure between arms.
            "streaming_segment_scrub_multibatch_wall_minus_fold_sec": {
                arm: round(best[arm][0] - best[arm][1], 3) for arm in samples
            },
        }
    finally:
        shutil.rmtree(watch, ignore_errors=True)


@contextlib.contextmanager
def _streaming_retrieval_sampler(
    spark, n_queries: int = 32, nprobe: int | None = None
):
    """Online ANN retrieval: one micro-batch of ``n_queries`` external
    query embeddings scored against the PQ-compressed corpus via the
    foreachBatch ADC handler, reading the MATERIALIZED codes table (built
    once, outside the timed window — the build-once/query-forever split
    that is the point of PQ at scale).  ``nprobe`` routes through the
    round-8 IVF-probed partition-pruned engine (the adc_retrieval_pruned
    split) instead of the exhaustive codes scan.  Yields a zero-arg
    measured-sample callable (setup + warm-up already paid) so
    _bench_streaming can interleave its samples with the other figures'
    (round-robin, VERDICT r10 item 2)."""
    import json as _json
    import shutil
    import tempfile
    import time

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        materialize_pq_index,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table
    from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
        foreach_batch_adc_topk,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    idx = tempfile.mkdtemp(prefix="bench_pq_idx_")
    watch = tempfile.mkdtemp(prefix="bench_adc_q_")
    try:
        materialize_pq_index(spark, sf_dir, idx)
        qrows = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .limit(n_queries)
            .collect()
        )
        with open(f"{watch}/q0.json", "w") as f:
            for r in qrows:
                f.write(
                    _json.dumps(
                        {
                            "query_id": int(r["vec_id"]) + 10_000_000,
                            "q_emb": [float(x) for x in r["embedding"]],
                        }
                    )
                    + "\n"
                )

        def run_once() -> float:
            ckpt = tempfile.mkdtemp(prefix="bench_adc_ck_")
            out = tempfile.mkdtemp(prefix="bench_adc_out_")
            try:
                t0 = time.perf_counter()
                q = (
                    spark.readStream.schema("query_id bigint, q_emb array<float>")
                    .json(watch)
                    .writeStream.foreachBatch(
                        foreach_batch_adc_topk(
                            sf_dir, out, codes_path=idx, nprobe=nprobe
                        )
                    )
                    .option("checkpointLocation", ckpt)
                    .start()
                )
                q.processAllAvailable()
                q.stop()
                return round(time.perf_counter() - t0, 3)
            finally:
                shutil.rmtree(ckpt, ignore_errors=True)
                shutil.rmtree(out, ignore_errors=True)

        run_once()  # warm-up
        yield run_once
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(watch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
