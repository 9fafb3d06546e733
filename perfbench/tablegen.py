"""Seeded generator for the analytics workload's input tables.

Writes the ten tables ``queries.REGISTRY`` reads (``region`` ...
``embeddings``) as one parquet file each, with the column names, types and
value domains of the repo's sf0.01 test data: TPC-H-like star schema
rows, a 30-day ``events`` stream, token-soup ``documents`` with planted
near-duplicates, and unit-norm 64-d ``embeddings`` clustered by label.
The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale 1 (the shape of the repo's sf0.01 data)
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "new", "hot", "cold", "small", "large", "old", "blue"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n = {k: max(int(v * scale), 10) for k, v in SIZES.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    retail = np.round(900 + (np.arange(npart) % 1000) / 10, 2)
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    no = n["orders"]
    # a third of the customers never order (TPC-H's custkey % 3 rule), so
    # the anti-join query has rows to return
    buyers = np.arange(nc)[np.arange(nc) % 3 != 0]
    odate = _EPOCH_1995_US + rng.integers(0, 2405, no) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.choice(buyers, no).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    })
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    lineno = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    pkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": okey.astype("int64"),
        "l_partkey": pkey.astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] + rng.uniform(0, 1, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl) * _DAY_US),
    })
    ne = n["events"]
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(ne // 7, 2), ne).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc with one token swapped
            toks = texts[int(rng.integers(0, i))].split()
            toks = [t for t in toks if t != "dup"]
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
            toks.append("dup")
        else:
            toks = rng.choice(VOCAB, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(toks))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, nd).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, 64))
    vecs = centers[labels] + 0.8 * rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in _tables(np.random.default_rng(seed), scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
