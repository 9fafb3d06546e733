"""Apache Iceberg implementation of the ``TableBackend`` protocol.

The engine programs against ``catalog.TableBackend``; the sandbox ships
``DeltaTable`` (plain parquet + JSON commit log). On a real cluster with
the ``iceberg-spark-runtime`` jar on the classpath and a catalog
configured (e.g. ``spark.sql.catalog.wh = org.apache.iceberg.spark.
SparkCatalog``), this class is the drop-in: every engine table becomes
a real Iceberg table with snapshot isolation, time travel, rollback and
metadata-only file adoption — exactly the per-method mapping documented
on the protocol (catalog.py).

Commit-id contract: the protocol wants small monotonically increasing
ints (the engine compares them, stores them in lineage rows, and uses
``last_commit() + 1`` as an update sequence). Iceberg snapshot ids are
random longs, but every commit also carries a monotonically increasing
``sequence_number`` — so this class exposes SEQUENCE NUMBERS as commit
ids and maps them to snapshot ids internally via the ``.snapshots``
metadata table.

Environment gating: the sandbox has no Iceberg runtime jar, so nothing
here can execute end-to-end locally — ``iceberg_available()`` reports
whether the jar + a default catalog are present, the conformance suite
(tests/test_backend_contract.py) parametrizes over this factory and
SKIPS cleanly without it, and tests/test_iceberg_backend.py unit-tests
the exact SQL/API calls each method emits against a recording stub (so
the emitted DDL/procedures are pinned even where they cannot run).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import local_df

_META_PREFIX = "weaver."  # snapshot summary namespace for engine meta


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime jar is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 - jar probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergTable:
    """``TableBackend`` on a real Iceberg table.

    ``ident`` is the fully qualified table name (``catalog.db.name``);
    ``catalog`` is the catalog part (needed for the ``system.*``
    maintenance procedures). The class is constructed by
    ``Catalog.table`` on deployments that set the Iceberg warehouse, or
    directly in tests.
    """

    def __init__(
        self,
        spark: SparkSession,
        ident: str,
        schema: StructType,
        key: str | None = None,
        location: str | None = None,
        create: bool = True,
    ):
        self.spark = spark
        self.ident = ident
        self.catalog = ident.split(".", 1)[0]
        self.schema = schema
        self.key = key
        self.root = location or ident
        if create:
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            loc = f" LOCATION '{location}'" if location else ""
            # merge-on-read deletes: delete_keys must be a tombstone
            # write, not a copy-on-write rewrite of data files
            self._sql(
                f"CREATE TABLE IF NOT EXISTS {ident} ({cols}) USING iceberg"
                f"{loc} TBLPROPERTIES ("
                "'format-version'='2', 'write.delete.mode'='merge-on-read')"
            )

    # -- plumbing ----------------------------------------------------------

    def _sql(self, q: str) -> DataFrame:
        return self.spark.sql(q)

    def _snapshots(self) -> list[tuple[int, int, dict]]:
        """[(sequence_number, snapshot_id, summary)] ascending."""
        rows = self._sql(
            f"SELECT sequence_number, snapshot_id, summary "
            f"FROM {self.ident}.snapshots ORDER BY sequence_number"
        ).collect()
        return [
            (int(r["sequence_number"]), int(r["snapshot_id"]), dict(r["summary"]))
            for r in rows
        ]

    def _snapshot_id(self, cid: int) -> int:
        for seq, sid, _ in self._snapshots():
            if seq == cid:
                return sid
        raise KeyError(f"no snapshot with sequence_number {cid} in {self.ident}")

    @staticmethod
    def _decode_meta(summary: dict) -> dict:
        out = {}
        for k, v in summary.items():
            if k.startswith(_META_PREFIX):
                try:
                    import json

                    out[k[len(_META_PREFIX):]] = json.loads(v)
                except Exception:
                    out[k[len(_META_PREFIX):]] = v
        return out

    # -- commit log --------------------------------------------------------

    def commits(self) -> list[int]:
        return [seq for seq, _, _ in self._snapshots()]

    def last_commit(self) -> int:
        snaps = self._snapshots()
        return snaps[-1][0] if snaps else 0

    def commit_meta(self, cid: int) -> dict:
        for seq, _, summary in self._snapshots():
            if seq == cid:
                return self._decode_meta(summary)
        raise KeyError(cid)

    def find_commit(self, **meta_match) -> int | None:
        hit = None
        for seq, _, summary in self._snapshots():
            meta = self._decode_meta(summary)
            if all(meta.get(k) == v for k, v in meta_match.items()):
                hit = seq  # latest match wins
        return hit

    def commit_files(self, cid: int) -> list[str]:
        # FileScanTask listing for one snapshot (time-travel over .files)
        sid = self._snapshot_id(cid)
        rows = self._sql(
            f"SELECT file_path FROM {self.ident}.files VERSION AS OF {sid}"
        ).collect()
        return sorted(r["file_path"] for r in rows)

    def live_commits(self) -> list[tuple[int, list[str], dict]]:
        out = []
        prev: set[str] = set()
        for seq, sid, summary in self._snapshots():
            cur = set(
                r["file_path"]
                for r in self._sql(
                    f"SELECT file_path FROM {self.ident}.files VERSION AS OF {sid}"
                ).collect()
            )
            out.append((seq, sorted(cur - prev), self._decode_meta(summary)))
            prev = cur
        return out

    def replace_commit_files(
        self, cid: int, files: list[str], meta_update: dict | None = None
    ) -> None:
        # physical-maintenance seam (purge vacuum): Iceberg's native
        # answer is a RewriteFiles commit; from SQL the supported route
        # is rewrite_data_files with a filter. The purge path on Iceberg
        # uses MERGE-on-read deletes + rewrite instead of this method.
        raise NotImplementedError(
            "on Iceberg, purge-vacuum rides delete_keys (merge-on-read) "
            "+ compact(); per-commit file replacement is a DeltaTable-"
            "backend concept"
        )

    # -- writes ------------------------------------------------------------

    def _writer(self, df: DataFrame, meta: dict | None):
        import json

        w = df.writeTo(self.ident)
        for k, v in (meta or {}).items():
            w = w.option(f"snapshot-property.{_META_PREFIX}{k}", json.dumps(v))
        return w

    def append(
        self, df: DataFrame, meta: dict | None = None, _tombstone: bool = False
    ) -> int:
        self._writer(df, meta).append()
        return self.last_commit()

    def append_rows(self, rows: list[tuple], meta: dict | None = None) -> int:
        return self.append(local_df(self.spark, rows, self.schema), meta=meta)

    def adopt(self, src_dir: str, meta: dict | None = None) -> int:
        # metadata-only file adoption — the fetch stage's payload bytes
        # are never rewritten (Iceberg add_files procedure)
        self._sql(
            f"CALL {self.catalog}.system.add_files("
            f"table => '{self.ident}', source_table => '`parquet`.`{src_dir}`')"
        )
        return self.last_commit()

    def delete_keys(self, keys_df: DataFrame, meta: dict | None = None) -> int:
        assert self.key, "delete_keys needs a key column"
        keys_df.createOrReplaceTempView("_weaver_delete_keys")
        self._sql(
            f"MERGE INTO {self.ident} t USING _weaver_delete_keys d "
            f"ON t.`{self.key}` = d.`{self.key}` WHEN MATCHED THEN DELETE"
        )
        return self.last_commit()

    def rollback(self, commit_id: int) -> None:
        sid = self._snapshot_id(commit_id)
        self._sql(
            f"CALL {self.catalog}.system.rollback_to_snapshot("
            f"'{self.ident}', {sid})"
        )

    def vacuum(self) -> None:
        self._sql(
            f"CALL {self.catalog}.system.remove_orphan_files("
            f"table => '{self.ident}')"
        )

    def compact(
        self,
        spark: SparkSession,
        meta: dict | None = None,
        buckets: int | None = None,
        observe: list[Column] | None = None,
    ) -> int:
        # rewrite_data_files runs inside the procedure: no DataFrame of the
        # rewrite to observe, so no "observed" meta is recorded
        self._sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.ident}')"
        )
        self._sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.ident}')"
        )
        return self.last_commit()

    # -- reads -------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        if as_of is not None:
            sid = self._snapshot_id(as_of)
            df = spark.read.option("snapshot-id", str(sid)).table(self.ident)
        else:
            df = spark.read.table(self.ident)
        if schema is not None:
            df = df.select(
                *[F.col(f.name).cast(f.dataType) for f in schema.fields]
            )
        return df

    def read_since(self, spark: SparkSession, after_cid: int) -> DataFrame:
        # incremental append scan between snapshots
        snaps = self._snapshots()
        if not snaps or after_cid >= snaps[-1][0]:
            return local_df(spark, [], self.schema)
        start = None
        for seq, sid, _ in snaps:
            if seq <= after_cid:
                start = sid
        rd = spark.read.format("iceberg")
        if start is not None:
            rd = rd.option("start-snapshot-id", str(start))
        rd = rd.option("end-snapshot-id", str(snaps[-1][1]))
        return rd.load(self.ident)

    def latest_state(
        self, spark: SparkSession, as_of: int | None = None
    ) -> DataFrame:
        # merge-on-read resolve: max(update_seq) per key — identical rule
        # to DeltaTable.latest_state (v2 equality deletes already removed
        # delete_keys rows at scan time)
        assert self.key, "latest_state needs a key column"
        df = self.read(spark, as_of=as_of)
        w = Window.partitionBy(self.key).orderBy(F.col("update_seq").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
