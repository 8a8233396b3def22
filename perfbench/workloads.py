"""The benchmark's workloads.

Each workload drives the engine only through its public calls and keeps the
same life cycle, which ``run.py`` times:

``prepare``  write the seeded inputs (before the SparkSession starts)
``warmup``   pay one-time artifacts and first-use costs; the batch
             workload checks its outputs here
``unit``     one timed unit of work: a pass over every query, or one step
``check``    after the timed section, compare outputs with a reference
"""

from __future__ import annotations

import gc
import json
import os
import time

from . import datagen

#: Catalog entries of the batch workload.  Relational: shuffle-heavy
#: aggregation, text, event-time window and as-of join work.  LLM: eager
#: ``localCheckpoint`` pins (MinHash LSH) and a stateless scoring
#: projection.  One Arrow UDF entry keeps the Python worker path (the
#: ``functions`` layer) in the measured set.
BATCH_QUERIES = (
    "q2a_customer_summary",
    "q1_word_count_top20",
    "events_tumbling_5min",
    "temporal_asof_last_click",
    "dedup_minhash_lsh",
    "text_quality_scores",
    "bonus_categorize_pandas_udf",
)
BATCH_SF = 0.01
#: ``--seconds`` buys one timed unit per this many seconds (rounded down),
#: so a given ``--seconds`` always does the same work: about what a batch
#: pass and a stream step take on a 4-core host.
BATCH_PASS_S = 6.0
STREAM_STEP_S = 10.0


#: The curation handler's ``stage_times`` keys: (ledger metric, span layer).
CURATION_STAGES = {
    "gate": ("extensions.gate_s", "extensions"),
    "lsh_dedup": ("extensions.lsh_dedup_s", "extensions"),
    "tokenize_write": ("extensions.tokenize_write_s", "sinks"),
    "bands_write": ("extensions.bands_write_s", "genstore"),
    "compact": ("genstore.fold_s", "genstore"),
}


class CheckFailed(Exception):
    """An output differs from its reference."""


def _expect(ok, message: str) -> None:
    if not ok:
        raise CheckFailed(message)


def _ms(d: dict, key: str) -> float:
    return float((d or {}).get(key, 0) or 0)


class BatchWorkload:
    """Catalog queries forced through the ``noop`` sink, one at a time, in
    the fixed order of ``BATCH_QUERIES``; the seed sets the data only."""

    kind = "batch"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "tables")
        self.check_errors: dict[str, str] = {}

    def units(self, seconds: int) -> int:
        return max(1, int(seconds // BATCH_PASS_S))

    def prepare(self) -> None:
        self.props = datagen.write_tables(self.data, self.seed, BATCH_SF)

    def properties(self) -> dict:
        return self.props

    def timed_rows(self, n_units: int) -> int:
        """Input rows of every table, once per pass."""
        return n_units * sum(self.props["rows"].values())

    def warmup(self, spark) -> None:
        """Run every query once and check it against its DuckDB oracle."""
        from hadoop_pyspark_streaming_analytics_spark.plans.catalog import CATALOG
        from tests.oracle import compare

        self.spark = spark
        by_name = {s.name: s for s in CATALOG}
        self.specs = [by_name[n] for n in BATCH_QUERIES]
        self.warm_times = {}
        for spec in self.specs:
            t0 = time.perf_counter()
            try:
                compare(spec, spark, self.data)
            except Exception as e:  # noqa: BLE001 - any failure is a result
                self.check_errors[spec.name] = f"{type(e).__name__}: {e}"[:500]
            self.warm_times[spec.name] = round(time.perf_counter() - t0, 3)
            gc.collect()

    def unit(self, i: int, probe) -> list[tuple[str, float, str | None]]:
        ops = []
        for spec in self.specs:
            err, df = None, None
            t0 = time.perf_counter()
            try:
                df = spec.builder(self.spark, self.data)
                t1 = time.perf_counter()
                probe.phase("plans", f"{spec.name}.build", t0, t1)
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                err, t1 = f"{type(e).__name__}: {e}"[:500], time.perf_counter()
            t2 = time.perf_counter()
            probe.phase("operators", f"{spec.name}.exec", t1, t2)
            ops.append((spec.name, t2 - t0, err or self.check_errors.get(spec.name)))
            probe.op(spec.name, t0, t2)
            del df
            gc.collect()
        return ops

    def check(self) -> dict[str, str]:
        return self.check_errors

    def gauges(self) -> dict:
        return {}

    def stop(self) -> None:
        pass


class StreamWorkload:
    """The reference's three Q4 sensor queries plus the curation stream.

    Each step lands one sensor file and one document file; the step ends
    when all four queries have committed it (closed loop).
    """

    kind = "stream"
    readings_per_step = 2000
    docs_per_step = 100
    warm_steps = 1

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.inputs = datagen.StreamInputs(seed, self.readings_per_step, self.docs_per_step)
        self.dirs = {
            k: os.path.join(work, k) for k in ("sensors", "docs", "bands", "curated", "ckpt")
        }
        self.queries: list = []
        self.stage_times: dict[str, float] = {}
        self.steps = 0
        self._progress_seen: dict[str, str] = {}

    def units(self, seconds: int) -> int:
        return max(2, int(seconds // STREAM_STEP_S))

    def prepare(self) -> None:
        for d in ("sensors", "docs"):
            os.makedirs(self.dirs[d], exist_ok=True)

    def properties(self) -> dict:
        return self.inputs.properties(self.steps)

    def timed_rows(self, n_units: int) -> int:
        return n_units * (self.readings_per_step + self.docs_per_step)

    def warmup(self, spark) -> None:
        """Train the BPE merges, start the queries and drain one step.

        The merges come from the pure-Python reference trainer the test
        suite pins the engine's distributed trainer against: the same
        merges, without a cold Spark training loop in every run."""
        import numpy as np

        from hadoop_pyspark_streaming_analytics_spark.operators.corpus import BPE_MERGES
        from hadoop_pyspark_streaming_analytics_spark.sources.readers import read_sensor_stream
        from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
            foreach_batch_curation,
        )
        from hadoop_pyspark_streaming_analytics_spark.streaming.harness import MemorySinkRun
        from hadoop_pyspark_streaming_analytics_spark.streaming.queries import (
            running_sensor_stats,
            sliding_window_max,
            tumbling_window_stats,
            with_event_time,
        )

        self.spark = spark
        self.warm_times = {}
        t0 = time.perf_counter()
        from tests.bpe_reference import train, word_counts

        corpus = datagen.corpus_texts(np.random.default_rng(self.seed), 500)
        self.merges = [(m[1], m[2]) for m in train(word_counts(corpus), BPE_MERGES)[0]]
        sensors = with_event_time(read_sensor_stream(spark, self.dirs["sensors"]))
        self.sensor_runs = {
            name: MemorySinkRun(spark, build(sensors), output_mode="update")
            for name, build in (
                ("running", running_sensor_stats),
                ("tumbling", tumbling_window_stats),
                ("sliding", sliding_window_max),
            )
        }
        handler = foreach_batch_curation(
            self.dirs["bands"],
            self.dirs["curated"],
            self.merges,
            stage_times=self.stage_times,
            compact_every=3,
        )
        self.curation = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(self.dirs["docs"])
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", self.dirs["ckpt"])
            .queryName("curation")
            .start()
        )
        self.queries = [r.query for r in self.sensor_runs.values()] + [self.curation]
        t1 = time.perf_counter()
        for _ in range(self.warm_steps):
            self._step()
        self.warm_times = {"merges_and_start": round(t1 - t0, 3), "steps": round(time.perf_counter() - t1, 3)}

    def _step(self) -> float:
        k = self.steps
        self.stage_times.clear()
        datagen.write_jsonl(
            os.path.join(self.dirs["sensors"], f"step_{k:04d}.json"),
            self.inputs.sensor_rows(k),
        )
        datagen.write_jsonl(
            os.path.join(self.dirs["docs"], f"step_{k:04d}.json"), self.inputs.doc_rows(k)
        )
        t0 = time.perf_counter()
        for q in self.queries:
            q.processAllAvailable()
        self.steps += 1
        return t0

    def unit(self, i: int, probe) -> list[tuple[str, float, str | None]]:
        name = f"step#{self.steps}"
        err = None
        if probe.enabled:  # earlier progress reports belong to earlier units
            with probe.costed():
                self._progress_seen = {q.id: self._last_stamp(q) for q in self.queries}
        try:
            t0 = self._step()
        except Exception as e:  # noqa: BLE001
            err, t0 = f"{type(e).__name__}: {e}"[:500], time.perf_counter()
        t1 = time.perf_counter()
        probe.op(name, t0, t1)
        if probe.enabled:
            with probe.costed():
                self._record_progress(probe)
                spans = []
                for stage, secs in self.stage_times.items():
                    metric, layer = CURATION_STAGES[stage]
                    probe.add(metric, secs)
                    spans.append((f"curation {stage}", layer, secs))
                probe.stage_spans(spans, t1)
        return [(name, t1 - t0, err)]

    @staticmethod
    def _progress(q) -> list[dict]:
        return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]

    def _last_stamp(self, q) -> str:
        # Idle triggers also report progress, under the id of the batch
        # still to come, so reports are told apart by their time stamp.
        return max((p["timestamp"] for p in self._progress(q)), default="")

    def _record_progress(self, probe) -> None:
        """Sum the new micro-batches' phases from ``recentProgress``."""
        phases = {
            "addBatch": "add_batch_ms",
            "queryPlanning": "query_planning_ms",
            "latestOffset": "latest_offset_ms",
            "getBatch": "get_batch_ms",
            "walCommit": "wal_commit_ms",
            "commitOffsets": "commit_offsets_ms",
        }
        deadline = time.monotonic() + 10
        for q in self.queries:
            seen = self._progress_seen.get(q.id, "")
            # a batch's progress is published just after its commit, which
            # is what processAllAvailable waits for: wait for the data batch
            while time.monotonic() < deadline and not any(
                p["timestamp"] > seen and p.get("numInputRows", 0) > 0 for p in self._progress(q)
            ):
                time.sleep(0.02)
            for p in self._progress(q):
                if p["timestamp"] <= seen:
                    continue
                seen = p["timestamp"]
                dur = p.get("durationMs", {})
                for key, metric in phases.items():
                    probe.add(f"streaming.{metric}", _ms(dur, key))
                if p.get("numInputRows", 0) > 0:
                    probe.add("streaming.batches", 1)
                for s in p.get("stateOperators", []):
                    probe.add("streaming.state_commit_ms", _ms(s, "commitTimeMs"))
                    probe.add("streaming.late_rows_dropped", _ms(s, "numRowsDroppedByWatermark"))
                probe.batch_span(q.name, p)
            self._progress_seen[q.id] = seen

    def gauges(self) -> dict:
        """State and store sizes at the end of the timed section."""
        from hadoop_pyspark_streaming_analytics_spark.sources.genstore import (
            append_ids,
            content_bytes,
            load_manifest,
        )

        rows = mem = inst = 0
        for q in self.queries:
            last = (self._progress(q) or [{}])[-1]
            for s in last.get("stateOperators", []):
                rows += s.get("numRowsTotal", 0)
                mem += s.get("memoryUsedBytes", 0)
                inst += s.get("numStateStoreInstances", 0)
        manifest = load_manifest(self.spark, self.dirs["bands"])
        return {
            "streaming.state_rows": rows,
            "streaming.state_memory_bytes": mem,
            "streaming.state_store_instances": inst,
            "genstore.generations": len(append_ids(self.spark, self.dirs["bands"], manifest)),
            "genstore.store_bytes": content_bytes(self.spark, self.dirs["bands"]),
            "genstore.manifest_versions": manifest["version"],
        }

    def stop(self) -> None:
        for q in self.queries:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - best effort on the way out
                pass

    def check(self) -> dict[str, str]:
        """Compare every final output with its batch reference."""
        self.stop()
        errors = {}
        self.check_times = {}
        for name, fn in (("sensor", self._check_sensors), ("curation", self._check_curation)):
            t0 = time.perf_counter()
            try:
                fn()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {e}"[:500]
            self.check_times[name] = round(time.perf_counter() - t0, 3)
        return errors

    def _check_sensors(self) -> None:
        """Final sink tables equal the batch twins over every reading.

        In update mode a key is re-emitted whenever it changes; its
        ``reading_count`` only grows, so the row with the largest count is
        the key's final value."""
        from hadoop_pyspark_streaming_analytics_spark.sources.readers import SENSOR_SCHEMA
        from hadoop_pyspark_streaming_analytics_spark.streaming.queries import (
            running_sensor_stats,
            sliding_window_max,
            tumbling_window_stats,
            with_event_time,
        )

        batch = with_event_time(self.spark.read.schema(SENSOR_SCHEMA).json(self.dirs["sensors"]))
        keys = {
            "running": (running_sensor_stats, ["sensor_id"]),
            "tumbling": (tumbling_window_stats, ["window_start"]),
            "sliding": (sliding_window_max, ["window_start", "sensor_id"]),
        }
        for name, (build, key) in keys.items():
            got = self.sensor_runs[name].table().toPandas()
            got = got.loc[got.groupby(key)["reading_count"].idxmax()]
            assert_same_frame(f"sensor.{name}", got, build(batch).toPandas())

    def _check_curation(self) -> None:
        """Sink rows equal the batch composition of the gate, the LSH dedup
        and the reference BPE over the same step structure, with no
        duplicate ``doc_id``.

        The band buckets come from the engine's batch bucketing in one job;
        the dedup rule is replayed here step by step: a gated document is
        dropped if a bucket of it holds a band admitted in an earlier step,
        or if it is not the smallest id of its connected component of
        bucket collisions within its own step."""
        import re

        import pandas as pd

        from hadoop_pyspark_streaming_analytics_spark.operators.dedup import lsh_band_buckets
        from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
            classify_documents,
            quality_features,
        )
        from tests.bpe_reference import apply_merge

        spark = self.spark
        out = self.dirs["curated"]
        got = spark.read.option("basePath", out).parquet(out).toPandas()
        _expect(not got["doc_id"].duplicated().any(), "duplicate doc_id in curated output")

        docs = spark.read.schema("doc_id long, text string").json(self.dirs["docs"])
        scored = classify_documents(quality_features(docs)).filter("keep")
        gated = docs.join(scored.select("doc_id", "model_score"), "doc_id").toPandas()
        bands: dict[int, set] = {}
        for r in lsh_band_buckets(spark.createDataFrame(gated[["doc_id", "text"]]), 3, 4, 4).collect():
            bands.setdefault(r["doc_id"], set()).add((r["band_id"], r["band_hash"]))
        store, admitted = set(), set()
        for k in range(self.steps):
            step = sorted(d for d in bands if d // self.docs_per_step == k)
            root = {d: d for d in step}

            def find(d):
                while root[d] != d:
                    d = root[d]
                return d

            owner: dict = {}
            for d in step:
                for b in bands[d]:
                    if b in owner:
                        lo, hi = sorted((find(d), find(owner[b])))
                        root[hi] = lo
                    else:
                        owner[b] = d
            keep = [d for d in step if find(d) == d and not bands[d] & store]
            admitted.update(keep)
            store.update(b for d in keep for b in bands[d])
        want = gated[gated["doc_id"].isin(admitted)].copy()

        def n_tokens(text: str) -> int:
            n = 0
            for word in re.findall("[a-z]+", text.lower()):
                parts = list(word)
                for lft, rgt in self.merges:
                    parts = apply_merge(parts, lft, rgt)
                n += len(parts)
            return n

        want["n_bpe_tokens"] = pd.array([n_tokens(t) for t in want["text"]], dtype="Int64")
        cols = ["doc_id", "text", "model_score", "n_bpe_tokens"]
        assert_same_frame("curation", got[cols], want[cols])


def assert_same_frame(name: str, got, want) -> None:
    """Order-insensitive equality in the oracle harness's canonical form,
    with its column rule (``tests/oracle.py:compare`` applies the same rule
    but is bound to a catalog spec and a DuckDB query)."""
    import numpy as np
    import pandas as pd

    from tests.oracle import _canon

    got, want = _canon(got.reset_index(drop=True)), _canon(want)
    _expect(list(got.columns) == list(want.columns), f"{name}: columns {list(got.columns)} != {list(want.columns)}")
    _expect(len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}")
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g):
            ok = (g.isna() == w.isna()).all() and np.isclose(g.fillna(0), w.fillna(0), rtol=1e-9, atol=1e-9).all()
        else:
            ok = g.astype(object).where(pd.notna(g), None).equals(w.astype(object).where(pd.notna(w), None))
        _expect(ok, f"{name}: column {c} differs")


WORKLOADS = {"batch": BatchWorkload, "stream": StreamWorkload}
