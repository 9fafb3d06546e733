"""URL/key seen-set: exact anti-join with persistent prefilter tiers.

The reference's only dedup is file-existence at the storage node
(``/root/reference/src/storage/main.go:146-151``) — an RPC + stat() per
key. Spark-first, membership is a relational anti-join; the north rule
adds a Bloom prefilter and then a partitioned cuckoo filter in front of
it for 10^10-frontier scale.

Design for scale (SURVEY.md §7 hard part b):

- **exact left-anti** is always authoritative. Catalyst broadcasts the
  smaller side or sort-merges; at 10^10 x 10^10 use
  ``antijoin_copartitioned`` which pins both sides to the same
  xxhash64-bucket partitioning so the join is a co-located sort-merge
  with no broadcast and no replan surprises.
- **prefilter tiers** (``BloomSeenSet`` here, ``CuckooSeenSet`` in
  operators/cuckoo.py, which adds the deletion ``purge_images`` needs):
  index bits come from two JVM-computed ``xxhash64(key, seed)`` columns
  — build and probe share the exact same hash bits, and the expensive
  hashing stays in whole-stage codegen; Python only does vectorized
  numpy tests on Arrow batches. Rows the filter misses are DEFINITELY
  new and skip the exact join; possible-positives are confirmed exactly
  (``antijoin_prefiltered``). Correctness is therefore independent of
  the false-positive rate.
- **one lifecycle** (``SeenFilter``): both tiers share the per-version
  probe broadcast, the warehouse checkpoint with its images-commit
  watermark, and the ``needs_rebuild`` predicate the engine's
  persistent-filter maintenance keys on.
- **sharding**: each filter is a list of shards keyed by the first
  hash. A single 10-bits/key filter at 10^10 keys is ~12 GB — too big to
  broadcast; shards bound per-executor memory, and at top scale the
  shards become the partitions of ``antijoin_copartitioned``.
"""

from __future__ import annotations

import json
import math
import os
import secrets
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

_H1_SEED = 0x9E3779B9
_H2_SEED = 0x85EBCA6B


def _hash_cols(df: DataFrame, key: str) -> DataFrame:
    return df.withColumn("_bh1", F.xxhash64(F.col(key), F.lit(_H1_SEED))).withColumn(
        "_bh2", F.xxhash64(F.col(key), F.lit(_H2_SEED))
    )


class SeenFilter:
    """What the Bloom and cuckoo tiers share. A subclass holds its tables
    in ``shards`` (first axis = shard) and supplies
    ``_probe_arrays(h1, h2)``, ``insert_df(df, key)``, ``needs_rebuild``,
    ``_payload()`` (the constructor arguments the probe needs, broadcast
    once per filter version) and ``_checkpoint()`` /
    ``_from_checkpoint(meta, arrays)`` (its json metadata and npz
    arrays)."""

    _bc = None  # cached probe broadcast (invalidated on mutation)
    shards: np.ndarray

    @property
    def n_shards(self) -> int:
        return self.shards.shape[0]

    def _invalidate_broadcast(self) -> None:
        if self._bc is not None:
            try:
                self._bc.destroy()
            except Exception:
                pass
            self._bc = None

    def _broadcast(self, spark):
        """One broadcast per filter VERSION: reused across probe calls
        and rounds until a mutation invalidates it — a fresh broadcast
        per call leaks driver/executor memory over long crawls."""
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self._payload())
        return self._bc

    def might_contain_udf(self, spark):
        """Vectorized membership probe as a pandas UDF over (_bh1, _bh2)."""
        bc = self._broadcast(spark)
        cls = type(self)

        @F.pandas_udf(BooleanType())
        def probe(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
            filt = cls(*bc.value)
            return pd.Series(
                filt._probe_arrays(h1s.to_numpy(np.uint64), h2s.to_numpy(np.uint64))
            )

        return probe

    # -- persistence (restart without the O(seen) rebuild) -----------------

    def save(self, dirpath: str, watermark: int) -> None:
        """Persist the filter under the warehouse with the catalog's
        crash discipline: blob file first, then the ``current.json``
        pointer via write-temp + atomic rename, then retire superseded
        blobs. ``watermark`` records the images-table commit the filter
        covers; ``load`` + an O(delta) ``insert_df`` of
        ``read_since(watermark)`` resumes a restart without an O(seen)
        rebuild."""
        meta, arrays = self._checkpoint()
        os.makedirs(dirpath, exist_ok=True)
        token = secrets.token_hex(4)
        blob = f"state-{token}.npz"
        np.savez(os.path.join(dirpath, blob), **arrays)
        tmp = os.path.join(dirpath, f".tmp-{token}")
        with open(tmp, "w") as f:
            json.dump({"file": blob, "watermark": watermark, **meta}, f)
        os.rename(tmp, os.path.join(dirpath, "current.json"))  # POSIX-atomic
        for fn in os.listdir(dirpath):
            if fn.startswith("state-") and fn != blob:
                try:
                    os.remove(os.path.join(dirpath, fn))
                except OSError:
                    pass

    @classmethod
    def load(cls, dirpath: str):
        """Reload a saved filter; returns (filter, watermark) or None if
        nothing (readable) is persisted."""
        try:
            with open(os.path.join(dirpath, "current.json")) as f:
                meta = json.load(f)
            with np.load(os.path.join(dirpath, meta["file"])) as z:
                arrays = {name: z[name].copy() for name in z.files}
            filt = cls._from_checkpoint(meta, arrays)
        except (OSError, KeyError, ValueError):
            return None
        return filt, int(meta["watermark"])


def _bloom_bits(h1: np.ndarray, h2: np.ndarray, bits: int, k: int, n_shards: int):
    """(shard, byte, bit) of each of the k index bits, by double hashing."""
    shard = (h1 % np.uint64(n_shards)).astype(np.int64)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) & np.uint64(bits - 1)
        yield shard, (idx >> np.uint64(3)).astype(np.int64), (idx & np.uint64(7)).astype(
            np.uint8
        )


class BloomSeenSet(SeenFilter):
    """Sharded Bloom filter built distributed, probed via broadcast.

    Designed as a PERSISTENT cross-round filter: build once with headroom
    (``expected_items`` beyond the current seen count), then OR in each
    round's newly-stored keys with ``insert_df`` — bitmaps merge by OR,
    so the incremental insert is a distributed O(new keys) pass with one
    tiny blob per task back to the driver, never an O(seen) rebuild.
    ``n_inserted`` tracks load; when it passes ``capacity`` the caller
    rebuilds with more headroom (amortized O(1) per key, the classic
    doubling argument)."""

    def __init__(
        self,
        bits_per_shard: int,
        n_hashes: int,
        shards: np.ndarray,
        capacity: int = 0,
        n_inserted: int = 0,
    ):
        self.bits_per_shard = bits_per_shard
        self.n_hashes = n_hashes
        self.shards = shards  # (n_shards, bits/8) uint8
        self.capacity = capacity  # expected_items the bit count was sized for
        self.n_inserted = n_inserted  # keys hashed in (dup-counting upper bound)

    @staticmethod
    def build(
        df: DataFrame,
        key: str,
        expected_items: int,
        fpp: float = 0.01,
        n_shards: int = 1,
        max_bits_per_shard: int = 1 << 27,
    ) -> "BloomSeenSet":
        m_total = max(64, int(-expected_items * math.log(max(fpp, 1e-9)) / (math.log(2) ** 2)))
        k = max(1, round(m_total / max(expected_items, 1) * math.log(2)))
        bits = min(max_bits_per_shard, -(-m_total // n_shards))
        bits = 1 << (bits - 1).bit_length()  # pow2 so % is a mask
        filt = BloomSeenSet(
            bits, k, np.zeros((n_shards, bits // 8), dtype=np.uint8), expected_items
        )
        filt.insert_df(df, key)
        return filt

    def insert_df(self, df: DataFrame, key: str) -> None:
        """OR in keys (build and the cross-round maintenance path): one
        distributed pass builds a partial bitmap per partition with this
        filter's exact (bits, k, shards) parameters; the driver merges
        them by bitwise OR. O(keys), no per-key driver traffic."""
        bits, k, n_shards = self.bits_per_shard, self.n_hashes, self.n_shards
        n_bytes = bits // 8

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            buf = np.zeros((n_shards, n_bytes), dtype=np.uint8)
            n = 0
            for pdf in batches:
                n += len(pdf)
                h1 = pdf["_bh1"].to_numpy(np.uint64)
                h2 = pdf["_bh2"].to_numpy(np.uint64)
                for shard, byte_i, bit in _bloom_bits(h1, h2, bits, k, n_shards):
                    np.bitwise_or.at(buf, (shard, byte_i), np.left_shift(np.uint8(1), bit))
            if n:
                yield pd.DataFrame({"shard_blob": [buf.tobytes()], "n": [n]})

        hashed = _hash_cols(df.select(key), key).select("_bh1", "_bh2")
        for row in hashed.mapInPandas(partial, "shard_blob binary, n long").collect():
            self.shards |= np.frombuffer(row["shard_blob"], dtype=np.uint8).reshape(
                n_shards, n_bytes
            )
            self.n_inserted += row["n"]
        self._invalidate_broadcast()

    @property
    def needs_rebuild(self) -> bool:
        """Inserts exceeded the bit-count sizing — fpp is degrading and
        the owner should rebuild with more headroom. Correctness is never
        at stake (higher fpp only routes more rows to the exact join)."""
        return self.n_inserted > self.capacity

    def _probe_arrays(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        hit = np.ones(len(h1), dtype=bool)
        for shard, byte_i, bit in _bloom_bits(
            h1, h2, self.bits_per_shard, self.n_hashes, self.n_shards
        ):
            hit &= (self.shards[shard, byte_i] >> bit) & 1 == 1
        return hit

    def _payload(self) -> tuple:
        return self.bits_per_shard, self.n_hashes, self.shards

    def _checkpoint(self) -> tuple[dict, dict]:
        meta = {
            "bits_per_shard": self.bits_per_shard,
            "n_hashes": self.n_hashes,
            "capacity": self.capacity,
            "n_inserted": self.n_inserted,
        }
        return meta, {"shards": self.shards}

    @classmethod
    def _from_checkpoint(cls, meta: dict, arrays: dict) -> "BloomSeenSet":
        return cls(
            meta["bits_per_shard"],
            meta["n_hashes"],
            arrays["shards"],
            capacity=meta["capacity"],
            n_inserted=meta["n_inserted"],
        )


def antijoin_exact(candidates: DataFrame, seen: DataFrame, key: str) -> DataFrame:
    """Authoritative dedup: keep candidates whose key is not in seen."""
    return candidates.join(seen.select(key).distinct(), key, "left_anti")


def antijoin_copartitioned(
    candidates: DataFrame, seen: DataFrame, key: str, buckets: int
) -> DataFrame:
    """Top-scale path: both sides repartitioned on the same key hash so
    the anti-join is a co-located sort-merge (no broadcast, no skew from
    a single giant build side). With Iceberg this partitioning comes free
    from ``bucket(N, key)`` table layout."""
    c = candidates.repartition(buckets, F.xxhash64(F.col(key)))
    s = seen.select(key).distinct().repartition(buckets, F.xxhash64(F.col(key)))
    return c.join(s, key, "left_anti")


def antijoin_prefiltered(
    candidates: DataFrame, seen: DataFrame, key: str, filt: SeenFilter
) -> DataFrame:
    """Prefilter + exact confirm. Result == antijoin_exact always: rows
    the filter misses are definitely new and skip the join; maybe-seen
    rows are confirmed against ``seen``."""
    probe = filt.might_contain_udf(candidates.sparkSession)
    hashed = _hash_cols(candidates, key).withColumn(
        "_maybe_seen", probe(F.col("_bh1"), F.col("_bh2"))
    )
    tmp = ("_bh1", "_bh2", "_maybe_seen")
    definitely_new = hashed.where(~F.col("_maybe_seen")).drop(*tmp)
    suspects = hashed.where(F.col("_maybe_seen")).drop(*tmp)
    return definitely_new.unionByName(antijoin_exact(suspects, seen, key))


def antijoin_bloom(
    candidates: DataFrame,
    seen: DataFrame,
    key: str,
    expected_items: int = 0,
    fpp: float = 0.01,
    n_shards: int = 4,
    filt: BloomSeenSet | None = None,
) -> DataFrame:
    """Bloom prefilter + exact confirm. Pass a prebuilt ``filt`` to reuse
    the persistent cross-round filter instead of building from ``seen``."""
    if filt is None:
        filt = BloomSeenSet.build(seen, key, expected_items, fpp, n_shards)
    return antijoin_prefiltered(candidates, seen, key, filt)
