#!/usr/bin/env python
"""Synthesize an sf1.0-SCALE measurement dataset (default /dev/shm/sf1.0m).

The driver's round-end bench escalated to a driver-generated sf1.0
(BENCH_r06.json: lineitem 6M rows) that is not kept on disk between
rounds; per-query times at the committed sf0.1 are 5-10x smaller and
noise-dominated.  This script builds a dataset with the same row counts
and the same statistical shape as the driver's generator output so
optimization deltas can be measured at the scale the driver grades:

- relational tables (lineitem/orders/customer/part/supplier/events) are
  sf0.1 tiled 10x with join keys shifted per copy, which preserves join
  selectivity, group cardinality ratios, and value distributions;
- documents are regenerated at 10x count by sampling the sf0.1 token
  frequency / doc-length / lang / source marginals (seeded, so the
  near-dup density that drives the minhash/jaccard query family scales
  the way a bigger draw from the same generator would, instead of the
  quadratic blowup naive text tiling would plant);
- embeddings are tiled 10x with a small deterministic per-copy
  perturbation (keeps all-pairs kernels honest: no planted exact dups).

NEVER writes under /root/testdata (read-only driver data).  Output is
for timing only — oracle correctness always runs on the driver's SFs.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
COPIES = int(os.environ.get("SF_MEASURE_COPIES", "10"))
SEED = 42


def _write(out: str, name: str, table: pa.Table) -> None:
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, f"{out}/{name}.parquet")
    print(f"{name}: {table.num_rows} rows")


def _domain_offsets() -> dict[str, int]:
    """One offset per KEY DOMAIN (not per table) so that shifted copies
    keep referential integrity: lineitem copy k joins orders copy k."""
    import pandas as pd

    def col(name: str, c: str) -> int:
        return int(
            pq.read_table(f"{SRC}/{name}.parquet", columns=[c])[c].to_pandas().max()
        )

    return {
        "orderkey": max(col("lineitem", "l_orderkey"), col("orders", "o_orderkey")) + 1,
        "custkey": max(col("customer", "c_custkey"), col("orders", "o_custkey")) + 1,
        "partkey": max(col("part", "p_partkey"), col("lineitem", "l_partkey")) + 1,
        "suppkey": max(col("supplier", "s_suppkey"), col("lineitem", "l_suppkey")) + 1,
        "event_id": col("events", "event_id") + 1,
        "user_id": col("events", "user_id") + 1,
    }


def tile(out_dir: str, name: str, shift_cols: dict[str, str], doms: dict[str, int]) -> None:
    """Union COPIES copies of the sf0.1 table, shifting each key column
    by copy * domain_offset so copies never collide on keys while
    cross-table joins stay aligned."""
    t = pq.read_table(f"{SRC}/{name}.parquet")
    df = t.to_pandas()
    parts = []
    for k in range(COPIES):
        c = df.copy()
        for col, dom in shift_cols.items():
            c[col] = c[col] + k * doms[dom]
        parts.append(c)
    import pandas as pd

    out = pd.concat(parts, ignore_index=True)
    _write(out_dir, name, pa.Table.from_pandas(out, schema=t.schema, preserve_index=False))


def copy_table(out_dir: str, name: str) -> None:
    _write(out_dir, name, pq.read_table(f"{SRC}/{name}.parquet"))


def gen_documents(out_dir: str) -> None:
    t = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
    rng = np.random.default_rng(SEED)
    # empirical marginals from the driver's sf0.1 documents
    from collections import Counter

    wc: Counter[str] = Counter()
    lens = []
    for txt in t.text:
        ws = txt.split()
        lens.append(len(ws))
        wc.update(ws)
    vocab = np.array(list(wc.keys()))
    probs = np.array(list(wc.values()), dtype="float64")
    probs /= probs.sum()
    langs = t.lang.to_numpy()
    sources = t.source.to_numpy()
    n = len(t) * COPIES
    lens_arr = rng.choice(np.array(lens), size=n)
    total_words = int(lens_arr.sum())
    words = vocab[rng.choice(len(vocab), size=total_words, p=probs)]
    texts = []
    pos = 0
    for ln in lens_arr:
        texts.append(" ".join(words[pos : pos + ln]))
        pos += ln
    import pandas as pd

    out = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), size=n)],
            "source": sources[rng.integers(0, len(sources), size=n)],
        }
    )
    out["n_chars"] = out.text.str.len().astype("int64")
    schema = pq.read_table(f"{SRC}/documents.parquet").schema
    _write(out_dir, "documents", pa.Table.from_pandas(out, schema=schema, preserve_index=False))


def gen_embeddings(out_dir: str) -> None:
    t = pq.read_table(f"{SRC}/embeddings.parquet")
    df = t.to_pandas()
    rng = np.random.default_rng(SEED)
    import pandas as pd

    parts = []
    base_n = len(df)
    for k in range(COPIES):
        c = df.copy()
        c["vec_id"] = c["vec_id"] + k * (int(df.vec_id.max()) + 1)
        if k > 0:
            eps = rng.normal(0, 0.05, size=(base_n, len(df.embedding.iloc[0]))).astype(
                "float32"
            )
            c["embedding"] = [
                (np.asarray(v, dtype="float32") + e) for v, e in zip(df.embedding, eps)
            ]
        parts.append(c)
    out = pd.concat(parts, ignore_index=True)
    _write(out_dir, "embeddings", pa.Table.from_pandas(out, schema=t.schema, preserve_index=False))


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sf1.0m"
    doms = _domain_offsets()
    tile(
        out,
        "lineitem",
        {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
        doms,
    )
    tile(out, "orders", {"o_orderkey": "orderkey", "o_custkey": "custkey"}, doms)
    tile(out, "customer", {"c_custkey": "custkey"}, doms)
    tile(out, "part", {"p_partkey": "partkey"}, doms)
    tile(out, "supplier", {"s_suppkey": "suppkey"}, doms)
    tile(out, "events", {"event_id": "event_id", "user_id": "user_id"}, doms)
    copy_table(out, "nation")
    copy_table(out, "region")
    gen_documents(out)
    gen_embeddings(out)
    open(f"{out}/_DONE", "w").write("ok\n")


if __name__ == "__main__":
    main()
