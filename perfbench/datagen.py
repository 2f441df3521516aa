"""Deterministic parquet fixtures for the benchmark.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``, one ``<name>.parquet`` each) with the schemas and value
domains described in FIXTURES.md: a TPC-H-like star schema, an
``events`` stream sorted by time, a small-vocabulary text corpus with
near-duplicate clusters, and unit-norm 64-dim embeddings.

The data never depends on the workload seed: every run reads the same
tables, so the reference hashes of the queries that have no DuckDB
oracle (``expected.json``) stay valid. The workload seed only permutes
the query order of each pass (see ``run.py``).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
# Row counts: lineitem/orders/customer/... scale like TPC-H at sf 0.02;
# the text and vector corpora are sized so that one pass of each
# workload stays a few seconds on a 4-core host.
ROWS = {
    "customer": 3_000,
    "supplier": 200,
    "part": 4_000,
    "orders": 30_000,
    "lineitem": 120_000,
    "events": 20_000,
    "documents": 800,
    "embeddings": 400,
}
VERSION = 1  # bump when the generator changes; invalidates cached data

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng, lo, hi, n):
    """Uniform two-decimal amounts in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    """Midnight timestamps uniform over [start, end]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values)[rng.choice(len(values), n, p=p)]


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate: copy plus a marker token
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.08:  # same token set, different order
            toks = texts[rng.integers(0, i)].split(" ")
            rng.shuffle(toks)
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 97))
            texts.append(" ".join(_pick(rng, VOCAB, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
    }
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(_pick(rng, ADJECTIVES, np_), _pick(rng, NOUNS, np_))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(t0 + rng.integers(0, span_us, ne)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(15, ne * 15 // 1000), ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return out


def stamp() -> str:
    return json.dumps({"version": VERSION, "seed": DATA_SEED, "rows": ROWS},
                      sort_keys=True)


def ensure(out_dir: str) -> str:
    """Write the fixtures into ``out_dir`` unless an identical set is
    already there. Returns ``out_dir``."""
    marker = os.path.join(out_dir, "_STAMP")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp():
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp())
    return out_dir
