"""Degenerate-input robustness probe: run EVERY catalog builder against
adversarial table variants and report which crash.

Spark 4 runs with ANSI mode on, so an unguarded division by a zero
denominator, an int cast of a NaN inside an Arrow batch, or a bytes(None)
in a python kernel is a RUNTIME CRASH, not a quiet NULL — and at 100 TB
a single degenerate row must degrade per-row, never kill the job.  This
probe is how the round-10 fixes were found (priority_sample's
DIVIDE_BY_ZERO on an empty document; the multimodal decode tiers'
IntCastingNaNError on a missing payload).

Three variant suites, each swapped in via the operator modules'
``load_table``/``load_events`` seams (the same monkeypatch seam the unit
tests use):

* documents — empty text, whitespace-only, single word, NULL text +
  NULL n_chars, and (round 11) unicode/CJK/RTL text, control chars
  incl. NUL, emoji-only, single-char, all-caps, digits/symbols-only,
  and NULL lang+source;
* embeddings — an all-zeros vector, a NULL embedding, a NULL label, a
  wrong-width (6-dim) vector, and an empty vector (all violate the
  embedding tier's documented unit-norm/fixed-dim contract — see
  SCALE.md "Degenerate-input behavior" — but since the round-11
  ``nullif`` cosine spelling + per-length Arrow batching they DEGRADE
  PER-ROW: NULL score, sorted last, never a job kill;
  ``embedding_norm_audit`` remains the pre-gate that quantifies
  offenders);
* events — ten events on one identical timestamp (tie storm), a
  single-event user, NULL value/props, zero-variance values, NULL
  event-time / user-key / group-key rows, and (round 11) NaN/±Inf
  values, far-future (2199) / pre-epoch (1960) timestamps, and
  malformed / nested / empty JSON props — four entries crash on the
  new scalar variants, carried in EXPECTED_EVENTS_FAILURES with the
  round-12 remediation plan;
* tpch — the real sf0.001 orders/lineitem with appended dirty rows
  (zero/negative/NULL quantity, NULL price/discount/shipdate, NULL
  orderdate/status/custkey; since round 11 also NaN/±Inf prices and
  quantities, out-of-range discounts, pre-1900/post-2299 dates,
  unknown-status and NUL-bearing strings, CJK flags, INT_MIN
  linenumber) — exactly the dirty-data contract the cleaning tier
  (operators/cleaning.py) filters, so every query must absorb them.

Usage:  python scripts/degenerate_probe.py [documents|embeddings|events|tpch]
(default: all four).  Exit code 1 if any UNEXPECTED failure, or if an
EXPECTED failure no longer fires (a stale expectation green-washes the
crash class it documents).
"""
from __future__ import annotations

import datetime as dt
import importlib
import pkgutil
import random
import sys

sys.path.insert(0, ".")

#: Round 11 landed the ``nullif(norm_a*norm_b, 0)`` cosine spelling
#: (operators/similarity.py:cosine_expr + the _duck_cos oracle twins),
#: so zero/NULL-norm embeddings now degrade per-row to a NULL score
#: instead of an ANSI DIVIDE_BY_ZERO — the 14 cosine/ANN entries this
#: set used to carry are no longer expected to fail under ANY suite.
EXPECTED_EMBEDDING_FAILURES: set[str] = set()

#: The round-11 probe EXTENSION (NaN/±Inf values + nested-JSON props)
#: found four entries crashing on ANSI casts of degenerate scalars
#: (nested $.k extract CAST-rejected in events_props_avg_k /
#: events_props_map_stats; signum(NaN).cast(int) CAST_OVERFLOW in
#: events_scalar_features; floor(±Inf).cast(int) overflow in
#: events_value_histogram).  The scheduled try_cast remediation LANDED
#: (timeseries.py + TRY_CAST/isnan oracle twins in plans/catalog.py),
#: so the set is empty again — the CI wiring asserts any name left
#: here still FIRES, so a landed fix MUST delete its name.  Everything
#: else absorbs the harsh variants: malformed JSON props
#: (get_json_object -> NULL), empty props, far-future (2199) and
#: pre-epoch (1960) timestamps, and NaN/Inf through the percentile /
#: winsorize / EWMA / session tiers.
EXPECTED_EVENTS_FAILURES: set[str] = set()

#: Per-suite expected-failure sets consulted by run_suite.
EXPECTED_FAILURES: dict[str, set[str]] = {
    "embeddings": EXPECTED_EMBEDDING_FAILURES,
    "events": EXPECTED_EVENTS_FAILURES,
}

SF = "/root/testdata/sf0.001"


def degenerate_documents(spark):
    rows = [
        (1, "", "en", "web", 0),
        (2, "   ", "en", "web", 3),
        (3, "solo", "en", "web", 4),
        (4, None, "en", "books", None),
        (5, "the quick brown fox jumps over the lazy dog", "en", "books", 44),
        (6, "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 46),
        (7, "one two three four five six seven eight nine ten", "de", "wiki", 49),
        (8, "data data data data data data data data", "en", "wiki", 39),
        # round-11 additions: hostile-but-realistic crawl content.  A
        # GIANT doc (250k chars) is deliberately NOT here: it is a
        # throughput question, not a crash class (composed dedup
        # entries measure ~20-25 s on it, linearly — SCALE.md
        # "Degenerate-input behavior"), and it would balloon the
        # CI-wired quick suite's runtime.
        (900, "héllo wörld ünïcode ça va naïve 東京 北京 مرحبا שלום", "zh", "web", 48),
        (901, "tab\there\nnewline\rcarriage\x00null\x01ctrl", "en", "web", 38),
        (903, "\U0001F600\U0001F680 emoji only \U0001F4A9", "en", "web", 20),
        (904, "a", "en", "web", 1),
        (905, "ALLCAPS SHOUTING TEXT WITH NO LOWERCASE AT ALL", "en", "wiki", 46),
        (906, "digits 123 456 7890 and symbols !@#$%^&*()", "en", "web", 42),
        (907, "repeated repeated repeated repeated repeated", None, None, 45),
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def degenerate_embeddings(spark):
    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(64)], i % 10)
        for i in range(20)
    ]
    rows += [
        (100, [0.0] * 64, 3),   # zero norm: cosine denominator 0
        (101, None, 2),          # NULL vector: python-kernel stack input
        (102, [random.uniform(-1, 1) for _ in range(64)], None),
        # round-11 additions: wrong-width ingest (zip_with pads -> NULL
        # score; numpy kernels must not np.stack a ragged batch) and the
        # empty vector (norm 0 by construction).
        (103, [random.uniform(-1, 1) for _ in range(6)], 4),
        (104, [], 5),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def degenerate_events(spark):
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows, eid = [], 0
    for i in range(10):  # tie storm: one shared timestamp
        rows.append((eid, base, 1, "click" if i % 2 else "error", 1.0, '{"k":1}'))
        eid += 1
    rows.append((eid, base, 2, "purchase", 5.0, None))  # single-event user
    eid += 1
    for i in range(5):  # NULL value/props, zero variance
        rows.append((eid, base + dt.timedelta(minutes=i), 3, "view", None, None))
        eid += 1
    for i in range(30):
        rows.append((
            eid, base + dt.timedelta(minutes=7 * i), 4,
            ["click", "view", "error", "purchase"][i % 4], float(i), '{"k":2}',
        ))
        eid += 1
    rows.append((eid, None, 5, "click", 1.0, "{}"))       # NULL event time
    eid += 1
    rows.append((eid, base, None, "view", 2.0, "{}"))     # NULL user key
    eid += 1
    rows.append((eid, base, 6, None, 3.0, "{}"))          # NULL group key
    eid += 1
    # round-11 additions: degenerate scalars + hostile payloads/times
    rows += [
        (900, dt.datetime(2199, 12, 31, 23, 59, 59), 7, "click", 1.0, "{}"),
        (901, dt.datetime(1960, 1, 1, 0, 0, 0), 7, "view", 2.0, "{}"),
        (902, base, 8, "click", float("nan"), "{}"),
        (903, base, 8, "view", float("inf"), "{}"),
        (904, base, 8, "error", float("-inf"), "{}"),
        (905, base, 9, "click", 1.0, "{not json"),
        (906, base, 9, "view", 1.0, '{"k": {"deep": [1,2,{"x": null}]}}'),
        (907, base, 9, "purchase", 1.0, ""),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def degenerate_tpch(spark):
    """Real sf0.001 orders/lineitem plus dirty rows mutated one field at
    a time from a real row — {table_name: DataFrame}."""
    import copy

    out = {}
    for name, key_col, muts in (
        (
            "orders",
            "o_orderkey",
            (
                {"o_totalprice": None}, {"o_orderdate": None},
                {"o_orderstatus": None}, {"o_custkey": None},
                # round-11 additions: extreme scalars + hostile strings
                {"o_totalprice": float("nan")},
                {"o_totalprice": float("inf")},
                {"o_totalprice": -99999.0},
                {"o_orderdate": dt.datetime(1899, 12, 31)},
                {"o_orderdate": dt.datetime(2299, 1, 1)},
                {"o_orderstatus": "ZZZ-unknown-status"},
                {"o_orderpriority": "999-\x00CTRL"},
            ),
        ),
        (
            "lineitem",
            "l_orderkey",
            (
                {"l_quantity": 0.0}, {"l_quantity": -1.0},
                {"l_quantity": None}, {"l_extendedprice": None},
                {"l_discount": None}, {"l_shipdate": None},
                # round-11 additions
                {"l_quantity": float("nan")},
                {"l_extendedprice": float("-inf")},
                {"l_discount": 2.0}, {"l_discount": -1.0},
                {"l_tax": float("nan")},
                {"l_returnflag": "日"},
                {"l_linenumber": -2147483648},
            ),
        ),
    ):
        real = spark.read.parquet(f"{SF}/{name}.parquet")
        seed = real.limit(1).collect()[0].asDict()
        dirty = []
        for i, mut in enumerate(muts):
            d = copy.deepcopy(seed)
            d[key_col] = 90_000_000 + i
            d.update(mut)
            dirty.append(d)
        out[name] = real.unionByName(spark.createDataFrame(dirty, real.schema))
    return out


def run_suite(spark, suite: str, catalog) -> tuple[list[str], list[str]]:
    """Run every builder in ``catalog`` against the suite's corrupted
    tables.  Returns ``(unexpected, stale_expected)``: unexpected =
    builders that crashed without being in the suite's expected set;
    stale_expected = names the expected set carries that did NOT crash
    (they must be removed when their remediation lands, or the set
    green-washes the very crash class it documents)."""
    import hadoop_pyspark_streaming_analytics_spark.operators as ops_pkg

    if suite == "tpch":
        tables = degenerate_tpch(spark)
    else:
        tables = {
            suite: {
                "documents": degenerate_documents,
                "embeddings": degenerate_embeddings,
                "events": degenerate_events,
            }[suite](spark)
        }
    # Patch EVERY package module that binds the loader seams — not just
    # operators/*.  plans/catalog.py defines builders inline (the
    # streaming batch twins, retail shapes) that import load_table /
    # load_events from sources.readers at module level or inside the
    # builder; patching only operators/* let those run against the REAL
    # table and trivially pass (probe-coverage hole found late round 11).
    # Patching sources.readers itself additionally catches every
    # call-time `from ..sources.readers import load_events` lookup.
    root_pkg = importlib.import_module(
        ops_pkg.__name__.rsplit(".", 1)[0]
    )
    mods = []
    for _, name, _ in pkgutil.walk_packages(
        root_pkg.__path__, prefix=f"{root_pkg.__name__}."
    ):
        # A module that cannot import (optional dependency missing in
        # some environment) must not kill the whole probe — skip it; any
        # builder that actually NEEDS it will fail loudly on its own.
        try:
            mods.append(importlib.import_module(name))
        except ImportError as e:
            print(f"probe: skipping unimportable module {name}: {e}")
    originals: list[tuple] = []
    for mod in mods:
        if hasattr(mod, "load_table"):
            orig = mod.load_table

            def fake(sp, d, t, _o=orig):
                if t in tables:
                    return tables[t]
                return _o(sp, SF, t)

            originals.append((mod, "load_table", orig))
            mod.load_table = fake
        if suite == "events" and hasattr(mod, "load_events"):
            originals.append((mod, "load_events", mod.load_events))
            mod.load_events = lambda sp, d: tables["events"]
    expected = EXPECTED_FAILURES.get(suite, set())
    unexpected, fired = [], set()
    try:
        for spec in catalog:
            try:
                spec.builder(spark, SF).limit(200).collect()
            except Exception as e:  # noqa: BLE001 — probe, report everything
                if spec.name in expected:
                    fired.add(spec.name)
                    continue
                unexpected.append(
                    f"{spec.name}: {type(e).__name__}: "
                    f"{str(e).splitlines()[0][:140]}"
                )
    finally:
        for mod, attr, orig in originals:
            setattr(mod, attr, orig)
    ran = {spec.name for spec in catalog}
    stale_expected = sorted((expected & ran) - fired)
    return unexpected, stale_expected


#: Table names each suite's variants replace — relevant_specs keys on them.
_SUITE_TABLES = {
    "documents": ("documents",),
    "embeddings": ("embeddings",),
    "events": ("events",),
    "tpch": ("orders", "lineitem"),
}


def relevant_specs(catalog, suite: str) -> list:
    """The catalog entries whose oracle reads a table the suite corrupts —
    the ``--quick`` selection (the CI wiring, tests/test_degenerate_probe.py,
    runs only these: a builder that never reads the corrupted table cannot
    exercise the suite's crash class).  Oracle-less entries are ALWAYS
    kept: without SQL to inspect, the selection cannot know which table
    they read, and the original name-based fallback silently DROPPED the
    three HLL sketch entries from the events suite (their names never say
    'events') — a few conservative extra builders per suite is the right
    price for never green-washing an oracle-less entry."""
    import re

    pats = [re.compile(rf"\b{t}\b") for t in _SUITE_TABLES[suite]]
    out = []
    for s in catalog:
        if s.oracle is None or any(p.search(s.oracle) for p in pats):
            out.append(s)
    return out


def main() -> int:
    from hadoop_pyspark_streaming_analytics_spark.plans.catalog import CATALOG
    from hadoop_pyspark_streaming_analytics_spark.session import get_spark

    argv = sys.argv[1:]
    quick = "--quick" in argv
    suites = [a for a in argv if a != "--quick"]
    if not suites:
        # Quick mode defaults to the two suites whose crash classes have
        # actually fired (round-10 documents, round-11 embeddings).
        suites = ["documents", "embeddings"] if quick else [
            "documents", "embeddings", "events", "tpch"
        ]
    spark = get_spark(app_name="degenerate_probe", master="local[4]")
    bad = []
    for suite in suites:
        catalog = relevant_specs(CATALOG, suite) if quick else CATALOG
        fails, stale = run_suite(spark, suite, catalog)
        print(f"{suite}: {len(fails)} unexpected failures"
              f" ({len(catalog)} builders)")
        for f in fails:
            print(f"  {f}")
        if stale:
            # An expectation that no longer fires is also a failure:
            # leaving it in place would green-wash the crash class it
            # documents once the remediation lands.
            print(f"{suite}: STALE expected failures (remove from "
                  f"EXPECTED_FAILURES): {stale}")
        bad.extend(fails)
        bad.extend(stale)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
