"""Differential tests: every catalog query with an oracle must match DuckDB
on sf0.001 — a faster local mirror of the driver's sf0.01 gate."""

from __future__ import annotations

import pytest

from hadoop_pyspark_streaming_analytics_spark.plans import (
    DRIVER_WINDOW,
    ROWS_ONLY_GATED,
    STALENESS_ROUNDS,
    driver_order,
)
from hadoop_pyspark_streaming_analytics_spark.plans import fingerprint as fp
from hadoop_pyspark_streaming_analytics_spark.plans.catalog import CATALOG

from .oracle import compare

SPECS = [s for s in CATALOG if s.oracle is not None]


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_oracle_parity(spec, spark, sf_dir):
    compare(spec, spark, sf_dir)


def _records():
    """(last green round, stamped re-check round) per entry, from disk."""
    regate = {n: rec["regate_round"] for n, rec in fp.load_recorded().items()}
    return fp.last_green_rounds(), regate


def test_driver_window_priority():
    """The driver oracle-checks only the first DRIVER_WINDOW catalog
    entries, so catalog order is policy.  CATALOG must be
    ``driver_order`` over the on-disk records, and everything that order
    owes a slot must fit in the window: never-checked, re-check owed, and
    stale (last green at least STALENESS_ROUNDS rounds old) entries."""
    greens, regate = _records()
    assert [s.name for s in CATALOG] == [
        s.name for s in driver_order(CATALOG, greens, regate)
    ]
    cutoff = fp.correctness_rounds()[-1] - STALENESS_ROUNDS

    def due(spec):
        green = greens.get(spec.name, 0)
        owed = regate.get(spec.name, 0) > green
        if spec.oracle is None:
            return spec.name == ROWS_ONLY_GATED and owed
        return green == 0 or owed or green <= cutoff

    due_names = {s.name for s in CATALOG if due(s)}
    # the capacity alarm: past this, whichever due entry sorts last
    # silently falls outside the driver's evaluation
    assert len(due_names) <= DRIVER_WINDOW, (
        f"{len(due_names)} entries owe a driver slot, only "
        f"{DRIVER_WINDOW} exist: {sorted(due_names)}"
    )
    window = CATALOG[:DRIVER_WINDOW]
    assert due_names <= {s.name for s in window}
    # an oracle-less entry in the window wastes a hard-signal slot
    slotless = [s.name for s in window if s.oracle is None and not due(s)]
    assert not slotless, f"oracle-less entries occupy driver slots: {slotless}"


def test_changed_operator_code_regates():
    """Rule 2 of the window order, derived from source fingerprints
    (builder + oracle + every transitively-referenced package function
    and constant — plans/fingerprint.py):

    1. the recorded fingerprint must match the current source — else
       operator code changed without running
       ``python scripts/update_entry_hashes.py``, which stamps the
       changed entries with regate_round = next driver round;
    2. every entry whose stamp exceeds its last green driver row sits
       inside the window — ``driver_order`` ranks it ahead of every
       refresh, so the change is checked by the next driver round."""
    recorded, meta = fp.load_recorded(with_meta=True)
    assert recorded, (
        "plans/entry_hashes.json missing — run "
        "scripts/update_entry_hashes.py"
    )
    if meta.get("python", fp.PY_VERSION) != fp.PY_VERSION:
        pytest.skip(
            f"fingerprints recorded under Python {meta['python']}, "
            f"running {fp.PY_VERSION}: bytecode-encoding drift is "
            "indistinguishable from code changes (ADVICE r9) — "
            "regenerate via scripts/update_entry_hashes.py"
        )
    stale_hash = []
    unrecorded = []
    for spec in CATALOG:  # oracle-less entries carry rows-only re-gates
        rec = recorded.get(spec.name)
        if rec is None:
            unrecorded.append(spec.name)
        elif rec["hash"] != fp.entry_fingerprint(spec):
            stale_hash.append(spec.name)
    assert not unrecorded and not stale_hash, (
        "entry source changed without re-recording its fingerprint — "
        "run `python scripts/update_entry_hashes.py` "
        f"(unrecorded: {unrecorded}, changed: {stale_hash})"
    )
    greens, regate = _records()
    # oracle-less entries re-check through the local suite instead, bar
    # the reviewed rows-only exception
    eligible = {s.name for s in SPECS} | {ROWS_ONLY_GATED}
    owed = {n for n in eligible if regate.get(n, 0) > greens.get(n, 0)}
    outside = owed - {s.name for s in CATALOG[:DRIVER_WINDOW]}
    assert not outside, (
        "entries with driver-unverified source changes sit outside the "
        f"window: {sorted(outside)}"
    )


def test_oracle_no_hugeint_columns(sf_dir):
    """DuckDB sum() over integers yields HUGEINT, which the driver's value
    hash renders differently from Spark's bigint (3.0 vs 3) — the exact
    failure behind temporal_clicks_trailing_5min (r1) and
    corpus_repetition_scores (r2).  The local pandas-based compare coerces
    both to float64 and cannot see it, so gate it statically: every oracle
    output column must bind to a non-HUGEINT DuckDB type."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    offenders = []
    for spec in SPECS:
        rel = con.sql(spec.oracle)
        for col, typ in zip(rel.columns, rel.types):
            if str(typ) in ("HUGEINT", "UHUGEINT"):
                offenders.append(f"{spec.name}.{col}")
    assert not offenders, f"uncast HUGEINT oracle columns: {offenders}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    names = set(e.queries())
    assert set(e.oracle_sql()) <= names


def test_cross_engine_output_types_compatible(spark, sf_dir):
    """The r02 corpus_repetition_scores red row was a TYPE divergence
    (DuckDB HUGEINT vs Spark bigint) invisible to the tolerance-based
    local compare.  Gate the whole class: for EVERY oracle-backed entry,
    each output column's Spark dtype must map to a hash-compatible DuckDB
    type.  Costs only plan analysis (dtypes) + oracle PREPARE — no
    execution."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    compat = {
        "bigint": {"BIGINT", "INTEGER"},
        "int": {"INTEGER"},
        "double": {"DOUBLE", "FLOAT"},
        "string": {"VARCHAR"},
        "boolean": {"BOOLEAN"},
        "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
        "timestamp_ntz": {"TIMESTAMP"},
        "date": {"DATE"},
    }
    problems = []
    for spec in SPECS:
        sdt = dict(spec.builder(spark, sf_dir).dtypes)
        rel = con.sql(spec.oracle)
        ddt = dict(zip(rel.columns, [str(t) for t in rel.types]))
        if set(sdt) != set(ddt):
            problems.append(f"{spec.name}: column sets differ "
                            f"{sorted(set(sdt) ^ set(ddt))}")
            continue
        for c, st in sdt.items():
            if ddt[c] not in compat.get(st, set()):
                problems.append(f"{spec.name}.{c}: spark={st} duckdb={ddt[c]}")
    assert not problems, "\n".join(problems)
