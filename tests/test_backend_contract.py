"""TableBackend conformance suite (VERDICT r4 #5): the complete table
contract the crawl engine programs against (catalog.TableBackend),
exercised through the protocol surface only — so a real-cluster Iceberg
backend class can land later with THIS suite as its gate (add a factory
to BACKENDS and run).

Iceberg mapping per test (the behavior each one pins):

- commits/last_commit/append      -> snapshot ids / writeTo().append()
  with summary properties (test_append_read_and_commit_log)
- commit_meta/find_commit         -> snapshot summary lookup; latest
  match wins (test_meta_and_find_commit)
- append_rows                     -> tiny catalog-side commit; readers
  can't tell (test_append_rows_equivalent)
- adopt                           -> add_files: metadata-only adoption,
  extra physical columns readable by schema override (test_adopt_*)
- read(as_of)                     -> snapshot time travel
- read_since                      -> incremental read between snapshots
- latest_state                    -> merge-on-read resolve; v2 equality
  deletes (test_latest_state_*, test_delete_keys_*)
- rollback                        -> rollback_to_snapshot; restores
  deleted keys (test_rollback_*)
- compact                         -> rewrite_data_files +
  expire_snapshots (test_compact_*)
- vacuum                          -> remove_orphan_files
  (test_vacuum_*, test_crash_orphan_data_invisible)
- replace_commit_files            -> RewriteFiles commit
  (test_replace_commit_files_*)
- crash ordering                  -> metadata-pointer-swap atomicity:
  data-before-manifest means orphans are invisible, torn manifests
  don't exist (test_crash_orphan_data_invisible, test_tmp_manifest_ignored)
"""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from weaver_spark.catalog import DeltaTable, TableBackend
from weaver_spark.schemas import LINEAGE_SCHEMA, METRICS_SCHEMA

SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("val", LongType(), False),
        StructField("update_seq", LongType(), False),
    ]
)

# backend factories under contract: name -> (root, schema, key) -> TableBackend.
# The Iceberg slot is live: with the iceberg-spark-runtime jar on the
# classpath (and a 'wh' SparkCatalog configured) every test here runs
# against real Iceberg tables; without it (this sandbox) the whole
# iceberg parametrization collects and SKIPS. The emitted SQL/DDL is
# separately pinned jar-free in tests/test_iceberg_backend.py.


def _iceberg_factory(root, schema, key):
    from pyspark.sql import SparkSession

    from weaver_spark.iceberg_backend import IcebergTable, iceberg_available

    spark = SparkSession.getActiveSession()
    if spark is None or not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on the classpath in this env")
    name = "t_" + os.path.basename(root).replace("-", "_")
    return IcebergTable(spark, f"wh.contract.{name}", schema, key=key, location=root)


BACKENDS = {
    "delta": lambda root, schema, key: DeltaTable(root, schema, key=key),
    "iceberg": _iceberg_factory,
}


@pytest.fixture(params=sorted(BACKENDS))
def make_table(request, tmp_path):
    counter = [0]

    def _make(key="k", schema=SCHEMA):
        counter[0] += 1
        return BACKENDS[request.param](
            str(tmp_path / f"t{counter[0]}"), schema, key
        )

    return _make


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(spark, t):
    return {
        (r["k"], r["val"]) for r in t.latest_state(spark).collect()
    }


def test_protocol_conformance(make_table):
    assert isinstance(make_table(), TableBackend)


def test_append_read_and_commit_log(spark, make_table):
    t = make_table()
    assert t.commits() == [] and t.last_commit() == 0
    c1 = t.append(_df(spark, [("a", 1, 1)]))
    c2 = t.append(_df(spark, [("b", 2, 2)]))
    assert t.commits() == [c1, c2] and c1 < c2
    got = {(r["k"], r["val"]) for r in t.read(spark).collect()}
    assert got == {("a", 1), ("b", 2)}
    # time travel: as_of the first snapshot
    got1 = {(r["k"], r["val"]) for r in t.read(spark, as_of=c1).collect()}
    assert got1 == {("a", 1)}


def test_meta_and_find_commit(spark, make_table):
    t = make_table()
    t.append(_df(spark, [("a", 1, 1)]), meta={"op": "x", "round": 0})
    c2 = t.append(_df(spark, [("b", 2, 2)]), meta={"op": "x", "round": 1})
    assert t.commit_meta(c2) == {"op": "x", "round": 1}
    assert t.find_commit(op="x") == c2  # latest match wins
    assert t.find_commit(op="x", round=0) == c2 - 1
    assert t.find_commit(op="nope") is None


def test_append_rows_equivalent(spark, make_table):
    t = make_table()
    t.append_rows([("a", 1, 1), ("b", 2, 2)], meta={"op": "tiny"})
    got = {(r["k"], r["val"]) for r in t.read(spark).collect()}
    assert got == {("a", 1), ("b", 2)}
    assert t.find_commit(op="tiny") == 1


def test_append_rows_rejects_null_in_non_nullable(spark, make_table):
    t = make_table()
    with pytest.raises(ValueError, match="'val'"):
        t.append_rows([("a", None, 1)])
    with pytest.raises(ValueError, match="3 fields"):
        t.append_rows([("a", 1)])
    assert t.last_commit() == 0  # nothing committed


def test_append_rows_lineage_and_metrics_read_back(spark, make_table):
    """The engine's driver-side bookkeeping tables read back exactly the
    rows appended: values, types and the table schema."""
    at = datetime(2026, 1, 2, 3, 4, 5, 678901)
    cases = [
        (LINEAGE_SCHEMA, [(0, "metrics", 2, at), (0, "frontier", 3, at)]),
        (METRICS_SCHEMA, [(1, 0, "h0.test", 5, 2, 1, 12345, 40)]),
    ]
    for schema, rows in cases:
        t = make_table(key=None, schema=schema)
        t.append_rows(rows, meta={"round": rows[0][0]})
        got = t.read(spark)
        # a file scan reads every column nullable; names and types hold
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in schema
        ]
        assert sorted(tuple(r) for r in got.collect()) == sorted(rows)


def test_adopt_is_metadata_only(spark, make_table, tmp_path):
    t = make_table()
    src = str(tmp_path / "incoming")
    _df(spark, [("a", 1, 1)]).write.parquet(src)
    files_before = set()
    for dirpath, _dirs, names in os.walk(src):
        files_before.update(n for n in names if n.endswith(".parquet"))
    cid = t.adopt(src, meta={"op": "merge"})
    assert not os.path.exists(src)  # renamed, not copied
    (owned,) = t.commit_files(cid)
    files_after = {n for n in os.listdir(owned) if n.endswith(".parquet")}
    assert files_after == files_before  # same physical files, zero rewrite
    assert {(r["k"], r["val"]) for r in t.read(spark).collect()} == {("a", 1)}


def test_adopt_extra_columns_schema_override(spark, make_table, tmp_path):
    t = make_table()
    src = str(tmp_path / "extra")
    _df(spark, [("a", 1, 1)]).withColumn("extra", F.lit(9)).write.parquet(src)
    t.adopt(src)
    # table schema prunes the extra column...
    assert t.read(spark).columns == ["k", "val", "update_seq"]
    # ...and a schema override surfaces it (the images/enqueue_seq shape)
    ext = StructType(SCHEMA.fields + [StructField("extra", LongType(), True)])
    assert t.read(spark, schema=ext).collect()[0]["extra"] == 9


def test_read_since_incremental(spark, make_table):
    t = make_table()
    c1 = t.append(_df(spark, [("a", 1, 1)]))
    t.append(_df(spark, [("b", 2, 2)]))
    t.delete_keys(spark.createDataFrame([("a",)], "k string"))
    got = {(r["k"], r["val"]) for r in t.read_since(spark, c1).collect()}
    assert got == {("b", 2)}  # after c1, tombstones excluded


def test_latest_state_max_update_seq_wins(spark, make_table):
    t = make_table()
    t.append(_df(spark, [("a", 1, 1), ("b", 2, 1)]))
    t.append(_df(spark, [("a", 10, 2)]))
    assert _state(spark, t) == {("a", 10), ("b", 2)}


def test_delete_keys_merge_on_read(spark, make_table):
    t = make_table()
    t.append(_df(spark, [("a", 1, 1), ("b", 2, 1)]))
    del_cid = t.delete_keys(spark.createDataFrame([("a",)], "k string"))
    assert _state(spark, t) == {("b", 2)}
    # append-only read still shows the data rows (tombstones aren't data)
    assert {(r["k"], r["val"]) for r in t.read(spark).collect()} == {
        ("a", 1),
        ("b", 2),
    }
    # rollback past the delete restores the key (v2 delete-file semantics)
    t.rollback(del_cid - 1)
    assert _state(spark, t) == {("a", 1), ("b", 2)}


def test_rollback_drops_later_commits(spark, make_table):
    t = make_table()
    c1 = t.append(_df(spark, [("a", 1, 1)]))
    t.append(_df(spark, [("b", 2, 2)]))
    t.rollback(c1)
    assert t.commits() == [c1]
    assert _state(spark, t) == {("a", 1)}
    # ids are reused after rollback (catalog semantics the engine's
    # filter watermarks explicitly handle)
    c2b = t.append(_df(spark, [("c", 3, 3)]))
    assert c2b == c1 + 1


def test_compact_single_base(spark, make_table):
    t = make_table()
    t.append(_df(spark, [("a", 1, 1), ("b", 2, 1)]))
    t.append(_df(spark, [("a", 10, 2)]))
    t.delete_keys(spark.createDataFrame([("b",)], "k string"))
    before = _state(spark, t)
    cid = t.compact(spark)
    assert _state(spark, t) == before == {("a", 10)}
    assert t.commits() == [cid]  # expire_snapshots: history folded
    # post-compaction writes keep working
    t.append(_df(spark, [("c", 3, 4)]))
    assert _state(spark, t) == {("a", 10), ("c", 3)}


def test_compact_bucketed_state_preserved(spark, make_table):
    t = make_table()
    t.append(_df(spark, [(f"k{i}", i, 1) for i in range(20)]))
    t.append(_df(spark, [("k3", 33, 2)]))
    before = _state(spark, t)
    t.compact(spark, buckets=4)
    assert _state(spark, t) == before
    meta = t.commit_meta(t.last_commit())
    assert meta["compaction"] and meta["buckets"] == 4
    # incremental re-compaction reuses untouched bucket dirs in place
    dirs_before = dict(meta["bucket_dirs"])
    t.append(_df(spark, [("k3", 34, 3)]))
    t.compact(spark, buckets=4)
    dirs_after = t.commit_meta(t.last_commit())["bucket_dirs"]
    untouched_same = [
        b for b in dirs_before if dirs_after.get(b) == dirs_before[b]
    ]
    assert len(untouched_same) >= len(dirs_before) - 1  # only k3's moved
    assert _state(spark, t) == (before - {("k3", 33)}) | {("k3", 34)}


def test_vacuum_reclaims_unreferenced(spark, make_table):
    t = make_table()
    c1 = t.append(_df(spark, [("a", 1, 1)]))
    t.append(_df(spark, [("b", 2, 2)]))
    (dead_dir,) = t.commit_files(c1 + 1)
    t.rollback(c1)
    assert os.path.isdir(dead_dir)  # rollback drops manifests, not bytes
    t.vacuum()
    assert not os.path.exists(dead_dir)  # remove_orphan_files
    assert _state(spark, t) == {("a", 1)}


def test_replace_commit_files_rewrite(spark, make_table, tmp_path):
    t = make_table()
    cid = t.append(_df(spark, [("a", 1, 1), ("b", 2, 1)]), meta={"op": "w"})
    (old_dir,) = t.commit_files(cid)
    # rewrite the commit's data minus one row (the purge-vacuum shape)
    new_dir = os.path.join(t.root, "data", "rewritten")
    t.read(spark).where(F.col("k") != "b").write.parquet(new_dir)
    t.replace_commit_files(cid, [new_dir], {"rewritten": True})
    assert t.commit_files(cid) == [new_dir]
    assert t.commit_meta(cid) == {"op": "w", "rewritten": True}  # meta merged
    assert _state(spark, t) == {("a", 1)}
    t.vacuum()
    assert not os.path.exists(old_dir)  # old files now orphans


def test_live_commits_view(spark, make_table):
    t = make_table()
    c1 = t.append(_df(spark, [("a", 1, 1)]), meta={"op": "w"})
    t.delete_keys(spark.createDataFrame([("a",)], "k string"))
    live = t.live_commits()
    # tombstone commits are not part of the physical-maintenance view
    assert [cid for cid, _files, _m in live] == [c1]
    (_, files, meta) = live[0]
    assert files == t.commit_files(c1) and meta == {"op": "w"}


def test_crash_orphan_data_invisible(spark, make_table):
    """Data-before-manifest ordering: a crash after the data write but
    before the manifest swap leaves bytes on disk that NO reader sees —
    Iceberg's metadata-pointer atomicity."""
    t = make_table()
    t.append(_df(spark, [("a", 1, 1)]))
    orphan = os.path.join(t.root, "data", "c99999999-deadbeef")
    _df(spark, [("zz", 99, 9)]).write.parquet(orphan)
    assert _state(spark, t) == {("a", 1)}
    assert {r["k"] for r in t.read(spark).collect()} == {"a"}
    t.vacuum()  # crash cleanup reclaims the orphan bytes
    assert not os.path.exists(orphan)


def test_tmp_manifest_ignored(spark, make_table):
    """A torn manifest write (tmp file never renamed) must not surface
    as a commit."""
    t = make_table()
    t.append(_df(spark, [("a", 1, 1)]))
    tmp = os.path.join(t.root, "_commits", ".tmp-cafe")
    with open(tmp, "w") as f:
        f.write('{"files": [], "meta": {}}')
    assert t.commits() == [1]
    assert _state(spark, t) == {("a", 1)}
