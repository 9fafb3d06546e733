"""Durable table layer: append-only parquet delta log with atomic commits.

The reference keeps frontier state in an in-memory map under a mutex
(``/root/reference/src/queue/main.go:16-29``) and payloads as one JSON
file per key with file-existence idempotence
(``src/storage/main.go:142-165``). The north rule demands durable,
resumable, exactly-once-per-round tables. The natural production answer
is Apache Iceberg (MERGE INTO, snapshot isolation, rollback); the sandbox
has no Iceberg runtime jar, so this module implements the same contract
on plain parquet with an explicit commit log:

    table_root/
      _commits/00000001.json   # {"files": [...], "meta": {...}} — atomic
      data/c00000001-<token>/  # parquet dir written by one commit

- **Atomic commit**: data is written first, then the commit manifest is
  created via write-to-temp + ``os.rename`` (POSIX-atomic). Readers list
  manifests only — a crash mid-write leaves orphan data, never a torn
  table. This is exactly Iceberg's metadata-pointer-swap, minus the
  catalog.
- **Snapshot read**: ``read(spark, as_of=N)`` unions the data of commits
  ≤ N. Time travel for free.
- **Rollback**: drop manifests > N (Iceberg ``rollback_to_snapshot``).
- **Merge-on-read state**: mutable tables (frontier) append status-delta
  rows; ``latest_state`` resolves current rows via max(update_seq) per
  key — the same merge-on-read design as Iceberg v2 position deletes, and
  the reason a 10^10-row frontier never gets rewritten per round.
  ``compact`` folds the log back to one base commit when read
  amplification grows.

Scale notes (100 TB): one parquet dir per commit with files sized by the
writing job's partitioning; state resolution shuffles on the key —
acceptable because status deltas are O(round batch), not O(frontier), and
compaction bounds the number of live deltas. On a real cluster this class
is replaced by ``spark.table("catalog.db.frontier")`` + MERGE INTO with
zero changes to engine logic (the engine only uses append/read/state).
"""

from __future__ import annotations

import json
import os
import secrets
import shutil
from typing import Protocol, runtime_checkable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import arrow_table, local_df


@runtime_checkable
class TableBackend(Protocol):
    """The complete table contract the crawl engine programs against —
    the backend seam. ``DeltaTable`` (below) is the sandbox
    implementation on plain parquet + a JSON commit log; on a real
    cluster the Iceberg implementation is ONE new class satisfying this
    protocol (engine.py imports only the protocol for its type surface
    and ``Catalog.table`` is the single construction point). Per-method
    Iceberg mapping:

    - ``commits`` / ``last_commit``          -> snapshot ids / current
      snapshot (``table.history()``).
    - ``commit_meta`` / ``find_commit``      -> snapshot summary
      properties (engine stamps {"op", "round", ...}; idempotence
      lookups scan summaries).
    - ``append``                             -> ``writeTo(t).append()``
      with commit properties.
    - ``append_rows``                        -> same, from a tiny local
      DataFrame (driver-side rows; metrics/lineage/robots cardinality).
    - ``adopt``                              -> ``add_files`` /
      RewriteFiles (metadata-only adoption of an already-written
      directory — the fetch stage writes payload bytes exactly once).
    - ``delete_keys``                        -> MERGE INTO / positional
      delete files (merge-on-read tombstones).
    - ``read`` / ``read_since``              -> snapshot read /
      incremental read between snapshots.
    - ``latest_state``                       -> merge-on-read resolve
      (Iceberg v2 equality deletes make this a plain table scan).
    - ``rollback``                           -> ``rollback_to_snapshot``.
    - ``compact``                            -> ``rewrite_data_files``
      (+ ``expire_snapshots``).
    - ``vacuum``                             -> ``remove_orphan_files``.
    - ``commit_files`` / ``live_commits`` / ``replace_commit_files`` ->
      the physical-maintenance extension surface (purge vacuum):
      FileScanTask file listings per snapshot and a RewriteFiles commit.

    Keep new engine code on this surface; anything not expressible here
    belongs in the backend class, not the engine.
    """

    root: str
    schema: StructType
    key: str | None

    def commits(self) -> list[int]: ...
    def last_commit(self) -> int: ...
    def find_commit(self, **meta_match) -> int | None: ...
    def commit_meta(self, cid: int) -> dict: ...
    def commit_files(self, cid: int) -> list[str]: ...
    def live_commits(self) -> list[tuple[int, list[str], dict]]: ...
    def replace_commit_files(
        self, cid: int, files: list[str], meta_update: dict | None = None
    ) -> None: ...
    def append(
        self, df: DataFrame, meta: dict | None = None, _tombstone: bool = False
    ) -> int: ...
    def append_rows(self, rows: list[tuple], meta: dict | None = None) -> int: ...
    def adopt(self, src_dir: str, meta: dict | None = None) -> int: ...
    def delete_keys(self, keys_df: DataFrame, meta: dict | None = None) -> int: ...
    def rollback(self, commit_id: int) -> None: ...
    def vacuum(self) -> None: ...
    def read(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame: ...
    def read_since(self, spark: SparkSession, after_cid: int) -> DataFrame: ...
    def latest_state(
        self, spark: SparkSession, as_of: int | None = None
    ) -> DataFrame: ...
    def compact(
        self,
        spark: SparkSession,
        meta: dict | None = None,
        buckets: int | None = None,
        observe: list[Column] | None = None,
    ) -> int: ...


class DeltaTable:
    def __init__(self, root: str, schema: StructType, key: str | None = None):
        self.root = root
        self.schema = schema
        self.key = key  # merge key for latest_state (None = append-only)
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- commit log -----------------------------------------------------

    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    def commits(self) -> list[int]:
        return sorted(
            int(f[:-5])
            for f in os.listdir(self._manifest_dir())
            if f.endswith(".json")
        )

    def last_commit(self) -> int:
        c = self.commits()
        return c[-1] if c else 0

    def _read_manifest(self, cid: int) -> dict:
        with open(os.path.join(self._manifest_dir(), f"{cid:08d}.json")) as f:
            return json.load(f)

    def commit_meta(self, cid: int) -> dict:
        """Caller-supplied metadata stamped on a commit (Iceberg:
        snapshot summary properties)."""
        return self._read_manifest(cid).get("meta", {})

    def commit_files(self, cid: int) -> list[str]:
        """Data directories owned by a commit (Iceberg: the snapshot's
        file listing via FileScanTasks)."""
        return list(self._read_manifest(cid).get("files", []))

    def live_commits(self) -> list[tuple[int, list[str], dict]]:
        """(cid, data dirs, meta) for every live non-tombstone commit —
        the physical-maintenance view (purge vacuum walks it to find
        which commit owns a file)."""
        return [
            (cid, list(m.get("files", [])), m.get("meta", {}))
            for cid, m in self._live_manifests(None)
            if not m.get("tombstone")
        ]

    def replace_commit_files(
        self, cid: int, files: list[str], meta_update: dict | None = None
    ) -> None:
        """Atomically repoint a commit at a new set of data dirs
        (Iceberg: a RewriteFiles commit). Existing meta is kept and
        ``meta_update`` merged over it; the old dirs become unreferenced
        and a ``vacuum()`` reclaims their bytes."""
        m = self._read_manifest(cid)
        m["files"] = list(files)
        if meta_update:
            m["meta"] = {**m.get("meta", {}), **meta_update}
        self._write_manifest(cid, m)

    def find_commit(self, **meta_match) -> int | None:
        """Latest commit whose meta contains all given key/value pairs —
        the idempotence lookup (skip re-appending a round's metrics or a
        replayed stream micro-batch after a crash). Driver-side manifest
        scan: O(live commits), bounded by compaction."""
        for cid in reversed(self.commits()):
            meta = self._read_manifest(cid).get("meta", {})
            if all(meta.get(k) == v for k, v in meta_match.items()):
                return cid
        return None

    def _write_manifest(self, cid: int, manifest: dict) -> None:
        token = secrets.token_hex(4)
        tmp = os.path.join(self._manifest_dir(), f".tmp-{token}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        final = os.path.join(self._manifest_dir(), f"{cid:08d}.json")
        os.rename(tmp, final)  # POSIX-atomic pointer swap

    def append(
        self, df: DataFrame, meta: dict | None = None, _tombstone: bool = False
    ) -> int:
        """Write df as one atomic commit; returns the commit id."""
        cid = self.last_commit() + 1
        token = secrets.token_hex(4)
        data_dir = os.path.join(self.root, "data", f"c{cid:08d}-{token}")
        df.write.mode("overwrite").parquet(data_dir)
        manifest = {"files": [data_dir], "meta": meta or {}}
        if _tombstone:
            manifest["tombstone"] = True
        self._write_manifest(cid, manifest)
        return cid

    def append_rows(self, rows: list[tuple], meta: dict | None = None) -> int:
        """Driver-side commit of a handful of LITERAL metadata rows
        (lineage entries — 2-4 rows per round) via pyarrow, bypassing a
        full Spark job. Same manifest/commit semantics as ``append``;
        readers cannot tell the difference. This is exactly how Iceberg
        itself records snapshot metadata: tiny bookkeeping writes are a
        driver/catalog responsibility, not a distributed job — launching
        a Spark stage to write 3 rows costs ~1 s of fixed scheduler
        latency per round, a pure serial term in the scaling ratio. The rows
        go through ``session.arrow_table``, the same typed, width- and
        null-checked conversion as ``local_df``."""
        import pyarrow.parquet as pq

        table = arrow_table(rows, self.schema)
        cid = self.last_commit() + 1
        token = secrets.token_hex(4)
        data_dir = os.path.join(self.root, "data", f"c{cid:08d}-{token}")
        os.makedirs(data_dir)
        pq.write_table(table, os.path.join(data_dir, "part-00000.parquet"))
        self._write_manifest(cid, {"files": [data_dir], "meta": meta or {}})
        return cid

    def adopt(self, src_dir: str, meta: dict | None = None) -> int:
        """Metadata-only commit of an EXISTING parquet directory (Iceberg
        ``add_files``): the directory is renamed into the table's data
        area (same-filesystem rename — zero bytes copied) and registered
        by a manifest. This is how payload bytes enter the images table
        without ever being rewritten: at 100 TB, re-encoding the fetch
        stage's output into a second parquet copy IS the bottleneck, and
        adoption removes it. The files may carry extra columns beyond the
        table schema; readers prune by name."""
        cid = self.last_commit() + 1
        token = secrets.token_hex(4)
        data_dir = os.path.join(self.root, "data", f"c{cid:08d}-{token}")
        os.rename(src_dir, data_dir)
        self._write_manifest(cid, {"files": [data_dir], "meta": meta or {}})
        return cid

    def delete_keys(self, keys_df: DataFrame, meta: dict | None = None) -> int:
        """Keyed DELETE (reference DHT Del,
        ``/root/reference/src/node/chord_interface.go:68-91``; also the
        GDPR-purge shape): one tombstone commit holding (key, update_seq)
        rows. ``latest_state`` drops a key whose newest record is a
        tombstone; ``compact`` folds tombstones away; ``rollback`` past
        the delete restores the row — exactly Iceberg v2 delete-file
        semantics on the commit log."""
        assert self.key is not None, "delete_keys needs a keyed table"
        cid = self.last_commit() + 1
        rows = (
            keys_df.select(self.key)
            .distinct()
            .withColumn("update_seq", F.lit(cid).cast("long"))
        )
        return self.append(rows, meta={"op": "delete", **(meta or {})}, _tombstone=True)

    def rollback(self, commit_id: int) -> None:
        """Drop all commits after commit_id (snapshot rollback)."""
        for cid in self.commits():
            if cid > commit_id:
                os.remove(os.path.join(self._manifest_dir(), f"{cid:08d}.json"))

    def vacuum(self) -> None:
        """Delete data dirs no longer referenced by any manifest. A
        bucketed base manifest may reference individual bucket SUBDIRS of
        an older commit's dir (incremental compaction reuses untouched
        buckets in place), so liveness is prefix-aware: a top-level dir
        with live subdirs survives, but its dead subdirs are pruned."""
        live: set[str] = set()
        for cid in self.commits():
            live.update(self._read_manifest(cid)["files"])
        data_root = os.path.join(self.root, "data")
        for d in os.listdir(data_root):
            full = os.path.join(data_root, d)
            if full in live:
                continue
            if not any(p.startswith(full + os.sep) for p in live):
                shutil.rmtree(full, ignore_errors=True)
                continue
            for sd in os.listdir(full):  # partially-live commit dir
                sfull = os.path.join(full, sd)
                if sfull not in live and not any(
                    p.startswith(sfull + os.sep) for p in live
                ):
                    if os.path.isdir(sfull):
                        shutil.rmtree(sfull, ignore_errors=True)
                    else:  # plain files (e.g. _SUCCESS) from partitionBy
                        try:
                            os.remove(sfull)
                        except OSError:
                            pass

    # -- reads ------------------------------------------------------------

    def _live_manifests(self, as_of: int | None) -> list[tuple[int, dict]]:
        out = []
        for cid in self.commits():
            if as_of is not None and cid > as_of:
                break
            out.append((cid, self._read_manifest(cid)))
        return out

    def read(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Union of all committed data rows (optionally as of a past
        commit). Tombstone commits are not data — append-only log view.
        ``schema`` overrides the table schema to surface extra physical
        columns the writers carried (adopted fetch-stage files keep e.g.
        enqueue_seq beyond IMAGES_SCHEMA; absent columns read as null)."""
        schema = schema or self.schema
        dirs: list[str] = []
        for _cid, m in self._live_manifests(as_of):
            if not m.get("tombstone"):
                dirs.extend(m["files"])
        if not dirs:
            return local_df(spark, [], schema)
        return spark.read.schema(schema).parquet(*dirs)

    def read_since(self, spark: SparkSession, after_cid: int) -> DataFrame:
        """Rows appended by commits AFTER ``after_cid`` (tombstones
        excluded) — the incremental-consumer read: a restarted seen-set
        filter catches up from its saved watermark in O(delta), never
        re-scanning the whole table."""
        dirs: list[str] = []
        for cid, m in self._live_manifests(None):
            if cid > after_cid and not m.get("tombstone"):
                dirs.extend(m["files"])
        if not dirs:
            return local_df(spark, [], self.schema)
        return spark.read.schema(self.schema).parquet(*dirs)

    def _tombstone_schema(self) -> StructType:
        key_field = next(f for f in self.schema.fields if f.name == self.key)
        return StructType(
            [key_field, next(f for f in self.schema.fields if f.name == "update_seq")]
        )

    def latest_state(
        self, spark: SparkSession, as_of: int | None = None
    ) -> DataFrame:
        """Current row per key: max(update_seq) wins (merge-on-read), a
        tombstone winner deletes the key.

        Scale shape (the 10^10-row frontier): the log is split at the
        last compaction boundary. The BASE (compaction output, unique per
        key) is NEVER shuffled or windowed — it is anti-joined against
        the delta key set, which is O(rows since compaction) and
        broadcast-sized in a compacting deployment, so Catalyst/AQE plans
        a broadcast anti-join with zero exchange on the base side. Only
        the deltas go through the merge window. Without any compaction
        the whole log is the delta set (the small-table degenerate case).
        On a real cluster this is Iceberg MOR with a bucketed key layout;
        the contract here is identical.
        """
        if self.key is None:
            return self.read(spark, as_of=as_of)

        _cid, _bm, base_dirs, delta_dirs, tomb_dirs = self._split_log(as_of)
        base = (
            spark.read.schema(self.schema).parquet(*base_dirs)
            if base_dirs
            else local_df(spark, [], self.schema)
        )
        if not delta_dirs and not tomb_dirs:
            return base
        return self._merge_state(
            spark, base, delta_dirs, tomb_dirs, has_base=bool(base_dirs)
        )

    def _split_log(
        self, as_of: int | None
    ) -> tuple[int | None, dict | None, list[str], list[str], list[str]]:
        """(base_cid, base_manifest, base_dirs, delta_dirs, tomb_dirs) at
        the last compaction boundary."""
        manifests = self._live_manifests(as_of)
        base_cid, base_manifest = None, None
        for cid, m in reversed(manifests):
            if m.get("meta", {}).get("compaction"):
                base_cid, base_manifest = cid, m
                break
        base_dirs: list[str] = []
        delta_dirs: list[str] = []
        tomb_dirs: list[str] = []
        for cid, m in manifests:
            if base_cid is not None and cid <= base_cid:
                if cid == base_cid:
                    base_dirs.extend(m["files"])
                continue  # pre-base commits are retired by compact()
            (tomb_dirs if m.get("tombstone") else delta_dirs).extend(m["files"])
        return base_cid, base_manifest, base_dirs, delta_dirs, tomb_dirs

    def _merge_state(
        self,
        spark: SparkSession,
        base: DataFrame,
        delta_dirs: list[str],
        tomb_dirs: list[str],
        has_base: bool,
    ) -> DataFrame:
        """Resolve current rows: max(update_seq) per key over the deltas
        (tombstone winner deletes), then base rows whose key has no delta
        survive via anti-join — the base is never windowed or shuffled."""
        cols = [f.name for f in self.schema.fields]
        deltas = (
            spark.read.schema(self.schema).parquet(*delta_dirs)
            if delta_dirs
            else local_df(spark, [], self.schema)
        ).withColumn("_tomb", F.lit(False))
        if tomb_dirs:
            tombs = spark.read.schema(self._tombstone_schema()).parquet(
                *tomb_dirs
            ).withColumn("_tomb", F.lit(True))
            deltas = deltas.unionByName(tombs, allowMissingColumns=True)

        w = Window.partitionBy(self.key).orderBy(F.col("update_seq").desc())
        resolved = deltas.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") == 1
        )
        live = resolved.where(~F.col("_tomb")).select(*cols)
        if not has_base:
            return live
        delta_keys = deltas.select(self.key).distinct()
        survivors = base.join(delta_keys, self.key, "left_anti")
        return survivors.unionByName(live)

    def compact(
        self,
        spark: SparkSession,
        meta: dict | None = None,
        buckets: int | None = None,
        observe: list[Column] | None = None,
    ) -> int:
        """Fold the log into a single base commit (+vacuum).

        With ``buckets=B`` the base is laid out as one directory per
        ``pmod(xxhash64(key), B)`` bucket (Iceberg ``bucket(B, key)``
        analogue), and a RE-compaction only rewrites buckets whose keys
        appear in post-base deltas/tombstones: untouched bucket dirs are
        re-referenced verbatim by the new manifest (zero bytes moved), so
        steady-state compaction cost scales with the round's write set,
        not with frontier size — the difference between an O(batch) and
        an O(10^10) maintenance job. ``buckets=None`` keeps the plain
        single-dir rewrite.

        ``observe``: named aggregates over the table's current rows,
        computed by the rewrite itself (``DataFrame.observe`` — no extra
        job) and recorded on the new base commit's meta under
        ``observed``. Only a pass that writes the whole state records
        them (the plain rewrite, a bucketed first layout); an incremental
        bucket rewrite sees the touched buckets only and records none.

        The rewrite reads the old commits' files while it writes; they
        are retired only after the new base has committed, so nothing is
        materialized first."""
        cid = self.last_commit() + 1
        token = secrets.token_hex(4)
        data_dir = os.path.join(self.root, "data", f"c{cid:08d}-{token}")
        if buckets is None:
            state, obs = _observed(self.latest_state(spark), observe)
            state.write.mode("overwrite").parquet(data_dir)
            meta = {"compaction": True, **(meta or {})}
            self._commit_base(cid, [data_dir], meta, obs)
            return cid

        assert self.key is not None, "bucketed compaction needs a keyed table"
        assert "bucket" not in {f.name for f in self.schema.fields}
        bucket_expr = F.pmod(F.xxhash64(F.col(self.key)), F.lit(buckets))
        base_cid, bm, base_dirs, delta_dirs, tomb_dirs = self._split_log(None)
        prior_meta = (bm or {}).get("meta", {})
        prior_dirs: dict[str, str] = prior_meta.get("bucket_dirs") or {}
        compatible_base = prior_dirs and prior_meta.get("buckets") == buckets
        if compatible_base and not delta_dirs and not tomb_dirs:
            # empty write set: the existing base IS the state — a true
            # no-op, not an O(table) rewrite of every bucket
            return base_cid
        incremental = compatible_base and (delta_dirs or tomb_dirs)

        if incremental:
            # buckets touched by the write set since the last base — the
            # only driver-side state is the touched-bucket id list
            key_rows = (
                spark.read.schema(self.schema).parquet(*delta_dirs).select(self.key)
                if delta_dirs
                else local_df(spark, [], self.schema).select(self.key)
            )
            if tomb_dirs:
                key_rows = key_rows.unionByName(
                    spark.read.schema(self._tombstone_schema())
                    .parquet(*tomb_dirs)
                    .select(self.key)
                )
            touched = sorted(
                r["b"]
                for r in key_rows.select(bucket_expr.alias("b")).distinct().collect()
            )
            base_touched_dirs = [
                prior_dirs[str(b)] for b in touched if str(b) in prior_dirs
            ]
            base_touched = (
                spark.read.schema(self.schema).parquet(*base_touched_dirs)
                if base_touched_dirs
                else local_df(spark, [], self.schema)
            )
            state = self._merge_state(
                spark, base_touched, delta_dirs, tomb_dirs, has_base=True
            )
            new_dirs = {
                b: d for b, d in prior_dirs.items() if int(b) not in set(touched)
            }
            obs = None
        else:
            state, obs = _observed(self.latest_state(spark), observe)
            new_dirs = {}

        state.withColumn("bucket", bucket_expr).repartition(
            F.col("bucket")
        ).write.partitionBy("bucket").mode("overwrite").parquet(data_dir)
        for d in os.listdir(data_dir):
            if d.startswith("bucket="):
                new_dirs[d.split("=", 1)[1]] = os.path.join(data_dir, d)

        manifest_meta = {
            "compaction": True,
            "buckets": buckets,
            "bucket_dirs": new_dirs,
            **(meta or {}),
        }
        self._commit_base(cid, sorted(new_dirs.values()), manifest_meta, obs)
        return cid

    def _commit_base(
        self, cid: int, files: list[str], meta: dict, obs: Observation | None
    ) -> None:
        """Commit a written compaction base, with the rewrite's observed
        row if it carried one, then retire every older commit and the
        data no manifest references any more."""
        if obs is not None:
            meta = {**meta, "observed": obs.get}
        self._write_manifest(cid, {"files": files, "meta": meta})
        for old in self.commits():
            if old != cid:
                os.remove(os.path.join(self._manifest_dir(), f"{old:08d}.json"))
        self.vacuum()


def _observed(
    df: DataFrame, aggs: list[Column] | None
) -> tuple[DataFrame, Observation | None]:
    """``df`` carrying an ``Observation`` of ``aggs`` (None: no aggs)."""
    if not aggs:
        return df, None
    obs = Observation()
    return df.observe(obs, *aggs), obs


class Catalog:
    """A directory of DeltaTables — the engine's 'warehouse'."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def table(self, name: str, schema: StructType, key: str | None = None) -> DeltaTable:
        return DeltaTable(os.path.join(self.warehouse, name), schema, key=key)
