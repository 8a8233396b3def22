"""Seeded input generators.

Everything the engine reads in a benchmark run comes from here, so the same
``--seed`` gives byte-identical inputs.  The batch tables follow the shapes
the catalog builders read (TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``, one parquet file per table).  The stream
inputs are JSON-lines files, one per step.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "new", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: Share of documents that are a near-duplicate (text plus a suffix) of an
#: earlier document; dedup operators must find something to drop.
NEAR_DUP_SHARE = 0.1
#: Share of sensor readings whose event time falls before the step's own
#: window (out of order), never more than ``LATE_LAG_S`` behind it.
OUT_OF_ORDER_SHARE = 0.2
LATE_LAG_S = 60  # < the queries' 2-minute watermark, so nothing is dropped
STEP_EVENT_SPAN_S = 120
N_SENSORS = 100


def _dates(rng, n, start, end):
    days = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _doc_texts(rng, n):
    lengths = rng.integers(10, 100, n)
    return [" ".join(_choice(rng, WORDS, k)) for k in lengths]


def corpus_texts(rng, n: int) -> list[str]:
    """``n`` document texts; a seeded share are an earlier text plus a
    suffix (near-duplicates)."""
    texts = _doc_texts(rng, n)
    n_dup = int(len(texts) * NEAR_DUP_SHARE)
    for i in rng.choice(np.arange(1, len(texts)), n_dup, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " extra"
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write every table the catalog builders read; returns the input
    properties."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(50, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(100, int(200_000 * sf)), max(500, int(1_500_000 * sf))
    n_line, n_ev = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731

    prices = 900.0 + (np.arange(n_part) % 1000) / 10.0
    part_key = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    doc_texts = corpus_texts(rng, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    dup_vec = rng.choice(np.arange(1, n_vec), n_vec // 50, replace=False)
    vecs[dup_vec] = vecs[dup_vec - 1]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ev_gap = rng.exponential(30 * 86400 / n_ev, n_ev)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        ev_gap * 1e6
    ).astype("timedelta64[us]")

    user_ids = rng.integers(0, 150, n_ev)
    tables = {
        "region": {"r_regionkey": i32(np.arange(5)), "r_name": REGIONS},
        "nation": {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(n_part),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _choice(rng, PART_ADJ, n_part), _choice(rng, PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": prices,
        },
        "orders": {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": part_key,
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * prices[part_key], 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["F", "O"], n_line),
            "l_shipdate": _dates(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        },
        "events": {
            "event_id": np.arange(n_ev),
            "ts": ev_ts,
            "user_id": user_ids,
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        },
        "documents": {
            "doc_id": np.arange(n_docs),
            "text": doc_texts,
            "lang": _choice(rng, LANGS, n_docs),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in doc_texts]),
        },
        "embeddings": {
            "vec_id": np.arange(n_vec),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": i32(labels),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {
        "sf": sf,
        "rows": {name: len(next(iter(cols.values()))) for name, cols in tables.items()},
        "files": len(tables),
        "near_dup_share": NEAR_DUP_SHARE,
        "distinct_keys": {
            "customers": n_cust,
            "parts": n_part,
            "event_users": int(len(np.unique(user_ids))),
            "embedding_labels": 10,
        },
    }


class StreamInputs:
    """Seeded per-step inputs of the stream workload.

    Step ``k`` lands one file of sensor readings and one file of documents.
    Readings of step ``k`` carry event times in
    ``[k * STEP_EVENT_SPAN_S, (k + 1) * STEP_EVENT_SPAN_S)`` past the epoch
    below, except an ``OUT_OF_ORDER_SHARE`` that reaches back at most
    ``LATE_LAG_S`` into the previous step's span; rows are shuffled within a
    file.  Documents carry globally unique ids, and a ``NEAR_DUP_SHARE`` of
    each step's documents are near-duplicates of the previous step's, so the
    dedup state crosses batch boundaries.
    """

    EPOCH = dt.datetime(2024, 1, 16)

    def __init__(self, seed: int, readings_per_step: int, docs_per_step: int):
        self.seed = seed
        self.readings = readings_per_step
        self.docs = docs_per_step
        self._prev_texts: list[str] = []

    def _rng(self, step: int):
        return np.random.default_rng([self.seed, step])

    def sensor_rows(self, step: int) -> list[dict]:
        rng = self._rng(step)
        n = self.readings
        offs = rng.uniform(0, STEP_EVENT_SPAN_S, n)
        late = rng.random(n) < (OUT_OF_ORDER_SHARE if step else 0.0)
        offs[late] = -rng.uniform(0, LATE_LAG_S, int(late.sum()))
        start = self.EPOCH + dt.timedelta(seconds=step * STEP_EVENT_SPAN_S)
        sensors = rng.integers(1, N_SENSORS + 1, n)
        # multiples of 0.25 add exactly in binary, so streaming and batch
        # aggregates agree bit for bit whatever the summation order
        temps = rng.integers(220, 360, n) / 4.0
        return [
            {
                "sensor_id": f"S{int(s):03d}",
                "temperature": float(t),
                "timestamp": (start + dt.timedelta(seconds=float(o))).isoformat(
                    timespec="milliseconds"
                ),
            }
            for s, t, o in zip(sensors, temps, offs)
        ]

    def doc_rows(self, step: int) -> list[dict]:
        rng = self._rng(step)
        texts = _doc_texts(rng, self.docs)
        if self._prev_texts:
            n_dup = int(self.docs * NEAR_DUP_SHARE)
            picks = rng.choice(len(self._prev_texts), n_dup, replace=False)
            for slot, src in zip(rng.choice(self.docs, n_dup, replace=False), picks):
                texts[slot] = self._prev_texts[src] + " extra"
        self._prev_texts = texts
        base = step * self.docs
        return [{"doc_id": base + i, "text": t} for i, t in enumerate(texts)]

    def properties(self, steps: int) -> dict:
        return {
            "steps": steps,
            "files": 2 * steps,
            "readings_per_step": self.readings,
            "docs_per_step": self.docs,
            "rows": steps * (self.readings + self.docs),
            "out_of_order_share": OUT_OF_ORDER_SHARE,
            "max_lateness_s": LATE_LAG_S,
            "near_dup_share": NEAR_DUP_SHARE,
            "distinct_keys": {"sensors": N_SENSORS, "docs": steps * self.docs},
        }


def write_jsonl(path: str, rows: list[dict]) -> None:
    """Write rows as JSON lines and rename into place, so a watching file
    source never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    os.rename(tmp, path)
