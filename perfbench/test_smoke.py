"""Smoke tests of the benchmark on tiny inputs (sf 0.001, a two-step
stream): every declared metric prints with its unit, an injected failing
operation shows in ``error_rate``, and a directory without the engine
makes the run fail without a result.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# Shrink the workloads in the child process only; the benchmark has no
# size option of its own.
SHRINK = """
import sys
sys.path.insert(0, {root!r})
import perfbench.workloads as w
w.BATCH_SF = 0.001
w.StreamWorkload.readings_per_step = 200
w.StreamWorkload.docs_per_step = 30
w.StreamWorkload.warm_steps = 0
{extra}
import perfbench.run as r
sys.argv = ["run.py"] + {args!r}
r.main()
"""

# Append, after the checked warm-up, one batch operation that raises.
INJECT_FAILURE = """
def _fail(spark, sf_dir):
    raise RuntimeError("injected failure")

_warmup = w.BatchWorkload.warmup

def _warmup_then_inject(self, spark):
    from hadoop_pyspark_streaming_analytics_spark.plans.catalog import QuerySpec

    _warmup(self, spark)
    self.specs.append(QuerySpec("injected_failure", _fail, None))

w.BatchWorkload.warmup = _warmup_then_inject
"""


def run_bench(*args: str, extra: str = "", cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    code = SHRINK.format(root=ROOT, args=list(args), extra=extra)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return proc, result


def _assert_declared(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_batch_prints_every_metric_and_counts_injected_failure():
    proc, result = run_bench(
        "--workload", "batch", "--seed", "7", "--seconds", "8", "--trace", "0", extra=INJECT_FAILURE
    )
    assert result is not None, proc.stderr[-3000:]
    _assert_declared(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0
    # 7 catalog queries plus the injected one, one pass; only it fails
    assert (result["attempted"], result["failed"], result["correct"]) == (8, 1, False)
    report = proc.stdout
    assert "# error_rate = 0.125 ratio" in report
    for name, unit in (("query_p50_s", "s"), ("rows_per_s", "rows/s")):
        assert f"# {name} = " in report and report.split(f"# {name} = ")[1].split("\n")[0].endswith(unit)
    assert "FAILED injected_failure" in report


def test_stream_traced_two_steps_prints_every_layer_and_spans():
    proc, result = run_bench("--workload", "stream", "--seed", "7", "--seconds", "1", "--trace", "1")
    assert result is not None, proc.stderr[-3000:]
    _assert_declared(result, SPEC["per_layer"])
    assert (result["attempted"], result["failed"], result["correct"]) == (2, 0, True)
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    # per step, four queries each commit one data micro-batch
    assert metrics["streaming.batches"] == 4
    assert 0 < metrics["trace.overhead_ratio"] < 1
    assert metrics["streaming.state_store_instances"] > 0
    assert metrics["streaming.late_rows_dropped"] == 0
    assert metrics["error_rate"] == 0
    assert "# batch_p50_s = " in proc.stdout
    spans_dir = os.path.join(ROOT, ".perfbench_run", "spans")
    newest = max(
        (os.path.join(spans_dir, f) for f in os.listdir(spans_dir) if f.startswith("stream-seed7-")),
        key=os.path.getmtime,
    )
    with open(newest) as f:
        spans = json.load(f)
    layers = {s["layer"] for s in spans["spans"]}
    assert {"session", "run", "operators", "jobs", "sources", "streaming", "extensions", "genstore", "sinks"} <= layers
    assert all({"name", "start", "end", "parent", "run_id"} <= set(s) for s in spans["spans"])


def test_fails_without_a_result_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
