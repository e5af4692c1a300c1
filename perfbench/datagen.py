"""Deterministic lake generator for the benchmark.

Writes the ten tables the engine's registry reads (``events`` plus the
TPC-H-like star schema, ``documents`` and ``embeddings``) as one parquet file
each, with the schemas and value domains of the engine's test fixtures.

The lake is a fixed part of the benchmark definition: it is generated from
``LAKE_SEED`` and does not depend on a run's ``--seed``, which drives only the
request stream. Two scales exist:

* ``bench`` - ``events`` at 100,000 rows over 1,500 resources (the serving
  workload's table); the other tables at the 0.01 scale factor (60,000
  lineitems, 500 documents, 500 embeddings).
* ``tiny`` - a 0.001-scale lake for the self-test.

All tables together are under 5 MB on disk, so every input fits in memory.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 42

SCALES = {
    "bench": dict(events=100_000, resources=1_500, customer=1_500, supplier=100, part=2_000,
                  orders=15_000, lineitem=60_000, documents=500, embeddings=500),
    "tiny": dict(events=1_000, resources=15, customer=150, supplier=10, part=200,
                 orders=1_500, lineitem=6_000, documents=120, embeddings=120),
}

EVENT_TYPES = ["error", "signup", "purchase", "view", "click"]
EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
EMBED_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _ts_us(start: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: datetime, days: int) -> pa.Array:
    return _ts_us(start, rng.integers(0, days, n).astype(np.int64) * _US_PER_DAY)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _events(rng: np.random.Generator, n: int, resources: int) -> pa.Table:
    offsets = np.sort(rng.integers(0, EVENTS_DAYS * _US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_us(EVENTS_START, offsets),
        "user_id": pa.array(rng.integers(0, resources, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    })


def _star(rng: np.random.Generator, s: dict) -> dict[str, pa.Table]:
    nc, ns, npt, no, nl = s["customer"], s["supplier"], s["part"], s["orders"], s["lineitem"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                       for a, b in zip(rng.integers(0, 8, npt), rng.integers(0, 8, npt))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npt)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npt)],
            "p_size": pa.array(rng.integers(1, 51, npt).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npt) % 1000) / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, no, datetime(1995, 1, 1), 2400),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }),
    }
    orderkey = np.sort(rng.integers(0, no, nl)).astype(np.int64)
    # Line numbers restart per order, capped at 7 like TPC-H.
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    lineno = (np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl]))) % 7 + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flags = rng.integers(0, 6, nl)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, npt, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(lineno.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("F", "O")[i % 2] for i in flags],
        "l_shipdate": _days(rng, nl, datetime(1995, 1, 2), 2500),
    })
    return tables


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            # Near-duplicate of an earlier document: the dedup operators' signal.
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array([row.tolist() for row in vecs], type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def generate(out_dir: str, scale: str) -> None:
    """Write every lake table under ``out_dir`` (created if missing)."""
    s = SCALES[scale]
    rng = np.random.default_rng(LAKE_SEED)
    tables = {"events": _events(rng, s["events"], s["resources"])}
    tables.update(_star(rng, s))
    tables["documents"] = _documents(rng, s["documents"])
    tables["embeddings"] = _embeddings(rng, s["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def resource_ids(scale: str) -> list[str]:
    """Every resource id present in the scale's ``events`` table (the fixture
    adapter maps ``user_id`` to ``RESOURCE``)."""
    return [str(i) for i in range(SCALES[scale]["resources"])]
