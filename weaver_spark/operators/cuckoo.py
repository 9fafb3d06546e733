"""Partitioned cuckoo-filter seen-set — the north rule's named upgrade
over the broadcast Bloom prefilter (operators/seen.py).

Why cuckoo (Fan et al., "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014 — public): same prefilter role as Bloom at better space for
fpp < 3%, and it supports DELETION — which the engine actually needs:
``DeltaTable.delete_keys`` (the GDPR-purge path, reference DHT Del
``/root/reference/src/node/chord_interface.go:68-91``) removes payload
rows, and a deletion-blind prefilter would keep reporting the purged key
as seen forever, blocking legitimate re-fetch.

Structure: ``n_shards`` independent tables (shard = pmod(h1, n_shards),
signed like Spark's ``pmod``), each ``m`` buckets x ``slots`` 16-bit
fingerprints. fp = low 16 bits of h2 (0 remapped to 1); bucket
i1 = (h1 >> 16) & (m-1); i2 = i1 XOR spread(fp) — the partial-key
cuckoo displacement rule, so eviction needs only the stored fingerprint.

Distributed build with NO merge problem: cuckoo tables cannot be
OR-merged like Bloom bitmaps (insertions displace each other), so the
build repartitions keys by shard and builds EACH SHARD IN EXACTLY ONE
TASK (groupBy(shard).applyInPandas) — sequential kicking inside a task,
parallelism across shards, one small blob per shard collected to the
driver. The cross-round insert is the same job over only the new keys.
At 10^10 keys the shards ARE the partitions (bucket-local probe, no
broadcast), degenerating to antijoin_copartitioned.

Broadcast caching, the warehouse checkpoint and the prefilter-plus-
exact-confirm anti-join are shared with the Bloom tier
(``seen.SeenFilter``, ``seen.antijoin_prefiltered``).

Correctness guarantees mirror antijoin_bloom: the filter only routes
DEFINITELY-NEW rows around the authoritative exact anti-join, so false
positives cost a join probe, never a wrong result. Two cuckoo-specific
hazards are closed conservatively:

- **saturation**: if a shard's kick loop overflows on insert, that
  shard is marked saturated and every probe landing in it reports
  maybe-seen (exact-confirmed). Correct at any load factor.
- **deletion aliasing**: deleting key A may remove a fingerprint that a
  colliding key B shares (the classic cuckoo-delete caveat — a false
  NEGATIVE, which a prefilter must never emit). ``delete`` therefore
  marks the touched (shard, bucket) pairs dirty; probes hitting a dirty
  bucket report maybe-seen and fall through to the exact join. Deletes
  stay O(1), exactness is unconditional.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .seen import SeenFilter, _hash_cols, antijoin_prefiltered

_FP_MASK = np.uint64(0xFFFF)
_SPREAD = np.uint64(0x5BD1)  # odd multiplier spreading fp into bucket space
_MAX_KICKS = 500


def _shard_of(h1: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard id with Spark pmod (signed) semantics — the build groups by
    ``F.pmod(_bh1, n)`` on the SIGNED long, so the probe must reduce the
    same way; an unsigned ``%`` disagrees for negative hashes and would
    probe the wrong shard (a false-negative generator)."""
    return np.mod(h1.astype(np.int64), n_shards).astype(np.int64)


def _fp_of(h2: np.ndarray) -> np.ndarray:
    fp = (h2 & _FP_MASK).astype(np.uint16)
    fp[fp == 0] = 1  # 0 marks an empty slot
    return fp


def _i1_of(h1: np.ndarray, m: int) -> np.ndarray:
    return ((h1 >> np.uint64(16)) & np.uint64(m - 1)).astype(np.int64)


def _alt_bucket(i: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    spread = (fp.astype(np.uint64) * _SPREAD) & np.uint64(m - 1)
    return (i.astype(np.uint64) ^ spread).astype(np.int64)


def _insert_one(table: np.ndarray, i: int, fp: int, slots: int, rng) -> bool:
    """Place fp in bucket i or its alternate, kicking on conflict.
    Returns False on kick overflow (shard saturated)."""
    m = table.shape[0]
    alt = int(_alt_bucket(np.int64(i), np.uint16(fp), m))
    for b in (i, alt):
        row = table[b]
        if fp in row:  # fp-duplicate: already represented
            return True
        empty = np.flatnonzero(row == 0)
        if len(empty):
            row[empty[0]] = fp
            return True
    cur = i
    for _ in range(_MAX_KICKS):
        s = int(rng.integers(0, slots))
        fp, table[cur, s] = int(table[cur, s]), fp
        cur = int(_alt_bucket(np.int64(cur), np.uint16(fp), m))
        row = table[cur]
        empty = np.flatnonzero(row == 0)
        if len(empty):
            row[empty[0]] = fp
            return True
    return False


class CuckooSeenSet(SeenFilter):
    def __init__(
        self,
        n_buckets: int,
        slots: int,
        shards: np.ndarray,  # (n_shards, m, slots) uint16
        saturated: np.ndarray,  # (n_shards,) bool
        dirty: set[tuple[int, int]] | None = None,
    ):
        self.n_buckets = n_buckets
        self.slots = slots
        self.shards = shards
        self.saturated = saturated
        # deletion support: buckets whose contents were mutated by a
        # delete — probes there must exact-confirm (see module docstring)
        self.dirty: set[tuple[int, int]] = set(dirty or ())
        # sorted encoded (shard * n_buckets + bucket) view of `dirty` for
        # vectorized probing; rebuilt lazily when the set changes
        self._dirty_codes: np.ndarray | None = None

    @staticmethod
    def build(
        df: DataFrame,
        key: str,
        expected_items: int,
        n_shards: int = 4,
        slots: int = 4,
        load_factor: float = 0.84,
    ) -> "CuckooSeenSet":
        """Size the tables for ``expected_items``, then fill them with the
        same one-task-per-shard job as ``insert_df``."""
        per_shard = max(expected_items, 1) / n_shards / (slots * load_factor)
        m = 1 << max(3, int(np.ceil(np.log2(max(per_shard, 1)))))
        filt = CuckooSeenSet(
            m,
            slots,
            np.zeros((n_shards, m, slots), dtype=np.uint16),
            np.zeros(n_shards, dtype=bool),
        )
        filt.insert_df(df, key)
        return filt

    @property
    def needs_rebuild(self) -> bool:
        """A shard overflowed its kick loop and now answers maybe-seen
        for every probe — still correct, but the owner should rebuild
        with more headroom."""
        return bool(self.saturated.any())

    # -- membership --------------------------------------------------------

    def _probe_arrays(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        m = self.n_buckets
        shard = _shard_of(h1, self.n_shards)
        fp = _fp_of(h2)
        i1 = _i1_of(h1, m)
        i2 = _alt_bucket(i1, fp, m)
        fp_col = fp[:, None]
        hit = (self.shards[shard, i1] == fp_col).any(axis=1)
        hit |= (self.shards[shard, i2] == fp_col).any(axis=1)
        hit |= self.saturated[shard]
        if self.dirty:
            # vectorized dirty-bucket check: only the misses are tested,
            # against the sorted encoded array (np.isin = binary search),
            # not a per-row python set lookup
            miss = np.flatnonzero(~hit)
            if len(miss):
                codes = self._dirty_code_arr()
                s64 = shard[miss].astype(np.int64) * np.int64(m)
                c1 = s64 + i1[miss].astype(np.int64)
                c2 = s64 + i2[miss].astype(np.int64)
                hit[miss] |= np.isin(c1, codes) | np.isin(c2, codes)
        return hit

    def _dirty_code_arr(self) -> np.ndarray:
        if self._dirty_codes is None or len(self._dirty_codes) != len(self.dirty):
            codes = np.fromiter(
                (s * self.n_buckets + b for s, b in self.dirty),
                dtype=np.int64,
                count=len(self.dirty),
            )
            codes.sort()
            self._dirty_codes = codes
        return self._dirty_codes

    def _payload(self) -> tuple:
        return self.n_buckets, self.slots, self.shards, self.saturated, self.dirty

    # -- distributed maintenance ------------------------------------------

    def insert_df(self, key_df: DataFrame, key: str) -> bool:
        """One-task-per-shard DISTRIBUTED insert — the build and the
        cross-round maintenance path at scale: keys repartition by shard
        id, each task copies its shard's table out of the probe
        broadcast (or starts from zeros when the filter is empty), runs
        the sequential kick loop, and returns one blob.
        Driver traffic is one blob per TOUCHED shard — independent of key
        count. A shard that overflows degrades to saturated (always-
        maybe-seen, exact-confirmed); returns False so the caller can
        schedule a larger rebuild."""
        hashed = (
            _hash_cols(key_df.select(key).distinct(), key)
            .select("_bh1", "_bh2")
            .withColumn("_shard", F.pmod(F.col("_bh1"), F.lit(self.n_shards)))
        )
        # an empty filter (a fresh build) sends no broadcast: each task
        # starts its shard from zeros
        empty = not (self.shards.any() or self.saturated.any())
        bc = None if empty else self._broadcast(key_df.sparkSession)
        m, slots = self.n_buckets, self.slots

        def upd(pdf: pd.DataFrame) -> pd.DataFrame:
            sid = int(pdf["_shard"].iloc[0])
            if bc is None:
                table = np.zeros((m, slots), dtype=np.uint16)
            else:
                _m, _slots, shards, saturated, _dirty = bc.value
                if saturated[sid]:  # already degraded: nothing to maintain
                    return pd.DataFrame(
                        {"shard": [sid], "blob": [b""], "saturated": [True]}
                    )
                table = shards[sid].copy()
            h1 = pdf["_bh1"].to_numpy(np.uint64)
            fp_arr = _fp_of(pdf["_bh2"].to_numpy(np.uint64))
            i1_arr = _i1_of(h1, m)
            rng = np.random.default_rng(sid)  # deterministic kicks
            sat = False
            for j in range(len(fp_arr)):
                if not _insert_one(table, int(i1_arr[j]), int(fp_arr[j]), slots, rng):
                    sat = True  # degrade, never drop a key silently
                    break
            return pd.DataFrame(
                {"shard": [sid], "blob": [table.tobytes()], "saturated": [sat]}
            )

        rows = (
            hashed.groupBy("_shard")
            .applyInPandas(upd, "shard long, blob binary, saturated boolean")
            .collect()
        )
        ok = True
        for r in rows:
            if r["blob"]:
                self.shards[r["shard"]] = np.frombuffer(
                    r["blob"], dtype=np.uint16
                ).reshape(m, slots)
            if r["saturated"]:
                self.saturated[r["shard"]] = True
                ok = False
        self._invalidate_broadcast()
        return ok

    # -- persistence (restart without the O(seen) rebuild) -----------------

    def _checkpoint(self) -> tuple[dict, dict]:
        dirty = np.array(sorted(self.dirty), dtype=np.int64).reshape(-1, 2)
        arrays = {"shards": self.shards, "saturated": self.saturated, "dirty": dirty}
        return {"n_buckets": self.n_buckets, "slots": self.slots}, arrays

    @classmethod
    def _from_checkpoint(cls, meta: dict, arrays: dict) -> "CuckooSeenSet":
        dirty = {(int(a), int(b)) for a, b in arrays["dirty"]}
        return cls(
            meta["n_buckets"], meta["slots"], arrays["shards"], arrays["saturated"], dirty
        )

    # -- deletion (the capability Bloom lacks) -----------------------------

    def delete_hashes(self, h1: np.ndarray, h2: np.ndarray) -> int:
        """Remove fingerprints for keys KNOWN to have been inserted,
        given their (h1, h2) hash arrays — use ``spark_key_hasher`` so
        the bits match the JVM xxhash64 the build used. Driver-side
        numpy (the filter is broadcast-sized by design). Touched buckets
        go on the dirty list so aliased survivors can never
        false-negative. Returns fingerprints removed."""
        m = self.n_buckets
        shard = _shard_of(h1, self.n_shards)
        fp = _fp_of(h2)
        i1 = _i1_of(h1, m)
        i2 = _alt_bucket(i1, fp, m)
        removed = 0
        for j in range(len(fp)):
            for b in (int(i1[j]), int(i2[j])):
                row = self.shards[shard[j], b]
                idx = np.flatnonzero(row == fp[j])
                if len(idx):
                    row[idx[0]] = 0
                    self.dirty.add((int(shard[j]), b))
                    removed += 1
                    break
        self._dirty_codes = None
        self._invalidate_broadcast()
        return removed


def spark_key_hasher(spark, key_df: DataFrame, key: str):
    """Hash keys with the SAME JVM xxhash64 the build used (python-side
    xxhash is not bit-compatible): one tiny job over the keys to delete."""
    rows = _hash_cols(key_df.select(key).distinct(), key).select("_bh1", "_bh2").collect()
    h1 = np.array([r["_bh1"] for r in rows], dtype=np.int64).view(np.uint64)
    h2 = np.array([r["_bh2"] for r in rows], dtype=np.int64).view(np.uint64)
    return h1, h2


def antijoin_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    key: str,
    expected_items: int,
    n_shards: int = 4,
    filt: CuckooSeenSet | None = None,
) -> DataFrame:
    """Cuckoo prefilter + exact confirm. Pass a prebuilt ``filt`` to
    reuse/delete-maintain the filter across rounds instead of building
    from ``seen``."""
    if filt is None:
        filt = CuckooSeenSet.build(seen, key, expected_items, n_shards=n_shards)
    return antijoin_prefiltered(candidates, seen, key, filt)
