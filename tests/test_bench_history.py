"""bench.py's local summary history (VERDICT r6 item 2 + ADVICE r6) and
its compact contract line (VERDICT r16 item 2).

BENCH_r06.json proved the driver's tail capture truncates once the
single JSON summary line outgrows ~2 KB (`parsed: null`).  bench.py now
persists its full summary to .benchmarks/bench_r{N}.json before printing
a compact line — these tests pin the persistence round-trip (including a
>16 KB summary), the round id, the per-SF file names, and the compact
line's worst-case size.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def bench(tmp_path, monkeypatch):
    """A fresh bench module whose repo root is tmp_path, so history files
    are read/written under the test sandbox, not the real repo."""
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(_REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(
        mod, "_bench_dir", lambda: str(tmp_path / ".benchmarks")
    )
    return mod


def _summary(core=10.0, sf=0.1, queries=None):
    return {
        "core_total": core,
        "sf": sf,
        "queries": queries or {"q1": 1.0},
    }


def test_persist_round_trips_a_large_summary(bench, tmp_path):
    # >16 KB of per-query timings: well past any terminal-capture limit
    big = _summary(queries={f"query_{i:05d}": i / 1000.0 for i in range(1000)})
    path = bench._persist_summary(big, 7)
    assert os.path.getsize(path) > 16_384
    with open(path) as f:
        assert json.load(f) == big
    # same-round re-run overwrites, never accumulates — and the stored
    # summary self-identifies its round basis (VERDICT r7 "wrong" #4:
    # filename round ids are in-flight labels offset from driver rounds
    # whenever bench runs after the driver's CORRECTNESS write, so the
    # file must say how its id was derived)
    bench._persist_summary(_summary(), 7)
    with open(path) as f:
        stored = json.load(f)
    assert stored["bench_round_id"] == 7
    assert "CORRECTNESS" in stored["bench_round_basis"]
    assert {k: v for k, v in stored.items() if not k.startswith("bench_round")} == _summary()


def test_round_id_is_one_past_latest_correctness(bench, tmp_path):
    assert bench._round_id() == 1
    (tmp_path / "CORRECTNESS_r03.json").write_text("{}")
    (tmp_path / "CORRECTNESS_r06.json").write_text("{}")
    assert bench._round_id() == 7


def test_off_default_sf_run_never_clobbers_default_history(bench, tmp_path):
    """A verification run at sf0.01 must not overwrite the same round's
    sf0.1 history file (it did once, in round 8 — the verify-skill smoke
    replaced the driver-grain numbers): off-default SFs persist to an
    sf-suffixed file."""
    p_main = bench._persist_summary(_summary(core=30.0, sf=0.1), 8)
    p_smoke = bench._persist_summary(_summary(core=12.0, sf=0.01), 8)
    assert os.path.basename(p_main) == "bench_r08.json"
    assert os.path.basename(p_smoke) == "bench_r08_sf0.01.json"
    with open(p_main) as f:
        assert json.load(f)["core_total"] == 30.0
    with open(p_smoke) as f:
        assert json.load(f)["core_total"] == 12.0


def test_compact_contract_line_fits_driver_tail_capture(bench):
    """VERDICT r16 item 2: BENCH_r15's contract line outgrew the driver's
    2000-char stdout tail (parsed: null — the line's start fell outside
    the window).  bench.py prints a COMPACT final line built by
    ``_compact_line``; the full payload lives in .benchmarks/.  Pin the
    worst-case size through bench.py's own code: every headline catalog
    query at a 4-digit-seconds timing, with the payload-only fields
    present, must still fit with margin — so neither a new headline query
    nor a new compact field can silently re-break the capture."""
    sys.path.insert(0, _REPO)
    from hadoop_pyspark_streaming_analytics_spark.plans.catalog import (
        CATALOG,
    )

    headline = [s.name for s in CATALOG if s.headline]
    assert headline, "no headline queries?"
    worst = 9999.999
    summary = {
        "metric": "headline_queries_total_wall",
        "value": worst,
        "unit": "sec",
        "queries": {n: worst for n in headline},
        "queries_raw": {n: [worst] * 3 for n in headline},
        "core_total": worst,
        "core_n": 24,
        "sf": 0.001,
        "master": "local[32]",
        "default_parallelism": 32,
        "shuffle_partitions": 32,
        "queries_ledger": {n: {"jobs": 9999} for n in headline},
        "streaming_3query_wall_sec": worst,
        **bench._host_identity(),
    }
    payload = os.path.join(_REPO, ".benchmarks", "bench_r99_sf0.001.json")
    line = json.dumps(bench._compact_line(summary, payload))
    assert len(line) <= 1900, (
        f"compact contract line is {len(line)} chars — the driver tail "
        "captures 2000; trim fields or move one to the payload"
    )
