"""plans.driver_order on synthetic specs: each sort key, the rows-only
exception, the oracle-less tail, and a round landing on disk that moves
a stale generation into the driver window with no code edit."""

from __future__ import annotations

import json

from hadoop_pyspark_streaming_analytics_spark.plans import (
    DRIVER_WINDOW,
    ROWS_ONLY_GATED,
    STALENESS_ROUNDS,
    QuerySpec,
    driver_order,
)
from hadoop_pyspark_streaming_analytics_spark.plans import fingerprint as fp


def _spec(name, oracle="SELECT 1"):
    return QuerySpec(name, lambda spark, sf: None, oracle)


def _names(specs, greens, regate=None):
    return [s.name for s in driver_order(specs, greens, regate or {})]


def test_never_checked_sorts_first():
    specs = [_spec("old"), _spec("new")]
    assert _names(specs, {"old": 1}) == ["new", "old"]


def test_owed_recheck_outranks_older_green():
    specs = [_spec("oldest"), _spec("changed")]
    greens = {"oldest": 1, "changed": 5}
    assert _names(specs, greens, {"changed": 6}) == ["changed", "oldest"]
    # a stamp the driver has already verified is not owed
    assert _names(specs, greens, {"changed": 5}) == ["oldest", "changed"]


def test_oldest_green_then_name():
    specs = [_spec("b2"), _spec("a3"), _spec("c2"), _spec("a2")]
    greens = {"b2": 2, "a3": 3, "c2": 2, "a2": 2}
    assert _names(specs, greens) == ["a2", "b2", "c2", "a3"]


def test_order_ignores_input_order():
    specs = [_spec(n) for n in ("d", "c", "b", "a")]
    greens = {"a": 3, "c": 1}
    assert _names(specs, greens) == _names(specs[::-1], greens)


def test_oracle_less_entries_sort_last():
    specs = [_spec("sketch", oracle=None), _spec("checked")]
    # never checked and owed, yet still behind a fresh oracle-backed entry
    assert _names(specs, {"checked": 9}, {"sketch": 3}) == ["checked", "sketch"]


def test_rows_only_entry_takes_a_slot_only_while_owed():
    specs = [_spec(ROWS_ONLY_GATED, oracle=None), _spec("fresh")]
    greens = {ROWS_ONLY_GATED: 1, "fresh": 9}
    # stale by any cutoff, but staleness alone never buys it a slot
    assert _names(specs, greens, {ROWS_ONLY_GATED: 1}) == [
        "fresh",
        ROWS_ONLY_GATED,
    ]
    assert _names(specs, greens, {ROWS_ONLY_GATED: 10}) == [
        ROWS_ONLY_GATED,
        "fresh",
    ]


def _land(repo, rnd, names):
    rows = {
        n: {"rows_match": True, "schema_match": True, "spark_rows": 1, "err": None}
        for n in names
    }
    (repo / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_landed_round_moves_stale_generation_into_window(tmp_path):
    """Round 4 is on disk.  A full window of owed re-checks keeps the
    40-entry generation last green at r1 out of the first 50.  Round 5
    lands with those 50 green, which makes that generation stale; it
    must move into the window by itself."""
    gen1 = [f"g1_{i:02d}" for i in range(40)]
    changed = [f"ch_{i:02d}" for i in range(DRIVER_WINDOW)]
    fresh = [f"f_{i:02d}" for i in range(30)]
    specs = [_spec(n) for n in gen1 + changed + fresh]
    _land(tmp_path, 1, gen1)
    _land(tmp_path, 4, changed + fresh)
    regate = {n: 5 for n in changed}

    greens = fp.last_green_rounds(repo=tmp_path)
    window = set(_names(specs, greens, regate)[:DRIVER_WINDOW])
    assert window == set(changed)

    _land(tmp_path, 5, sorted(window))
    rounds = fp.correctness_rounds(repo=tmp_path)
    greens = fp.last_green_rounds(repo=tmp_path)
    stale = {n for n in greens if greens[n] <= rounds[-1] - STALENESS_ROUNDS}
    assert stale == set(gen1)
    window = _names(specs, greens, regate)[:DRIVER_WINDOW]
    assert set(window) == set(gen1) | set(fresh[:10])
