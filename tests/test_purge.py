"""Engine-level keyed purge (reference DHT Del,
/root/reference/src/node/chord_interface.go:68-91; the GDPR path):
one `purge_images` call makes the key invisible to gather and the
storage-dedup seen set, keeps the purge durable across restarts, lets
the next enqueue of the same URL re-fetch AND re-store the key, and is
undone by rollback to a pre-purge round."""

import pytest
from pyspark.sql import functions as F

from weaver_spark.engine import CrawlEngine
from weaver_spark.webgen import make_web


@pytest.mark.parametrize("filt", ["exact", "cuckoo"])
def test_purge_refetch_rollback(spark, tmp_path, filt):
    web = make_web(seed=5, n_hosts=3, n_seed_roots=2, depth=1)
    wh = str(tmp_path / f"wh_{filt}")
    eng = CrawlEngine(spark, wh, mode="reproduction", seen_filter=filt)
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=10)
    pre_round = eng.current_round() - 1
    gather0 = {
        r["image_id"]: (r["phash"], bytes(r["bytes"]))
        for r in eng.gather().collect()
    }
    url, key = next(
        (u, p["image_id"])
        for u, p in web.pages.items()
        if p["kind"] == "leaf" and p["image_id"] in gather0
    )

    eng.purge_images([key])

    # gather excludes the purged key immediately; the physical row stays
    # on disk until compaction/vacuum (merge-on-read delete semantics)
    assert {r["image_id"] for r in eng.gather().collect()} == set(gather0) - {key}
    assert eng.images.read(spark).where(F.col("image_id") == key).count() == 1

    # the purge is durable: a fresh engine on the same warehouse agrees
    eng_r = CrawlEngine(spark, wh, mode="reproduction", seen_filter=filt)
    assert {r["image_id"] for r in eng_r.gather().collect()} == set(gather0) - {key}

    # re-enqueue the purged key's URL: the seen set no longer contains it,
    # so it is fetched and STORED again — same deterministic payload
    eng.seed_urls([url], url_types=["leaf"])
    eng.run(max_rounds=5)
    g2 = {
        r["image_id"]: (r["phash"], bytes(r["bytes"]))
        for r in eng.gather().collect()
    }
    assert set(g2) == set(gather0)
    assert g2[key] == gather0[key]
    assert eng.gather().count() == len(gather0)  # one live row per key
    # the log now holds BOTH rows for the key (append-only history)...
    assert eng.images.read(spark).where(F.col("image_id") == key).count() == 2

    # ...and rollback to the pre-purge round restores the original view
    eng.rollback_to_round(pre_round)
    assert {r["image_id"] for r in eng.gather().collect()} == set(gather0)
    assert eng.purges.last_commit() == 0  # purge commit rolled back


@pytest.mark.parametrize(
    "tier,rollback_tier",
    [
        pytest.param("bloom", "bloom", id="bloom"),
        pytest.param("cuckoo", "cuckoo", id="cuckoo"),
        pytest.param("cuckoo", "exact", id="cuckoo-rollback-by-exact"),
    ],
)
def test_rollback_past_purge_resets_filters(spark, tmp_path, tier, rollback_tier):
    """The one interleaving where stale-but-safe would break: store X →
    purge X → REBUILD the filter from seen-minus-purged (X absent) →
    rollback past the purge (X back in the authoritative seen set). A
    kept filter — in memory or as its checkpoint — would report X
    definitely-new and store a duplicate; rollback must reset filters
    whenever purge commits were dropped. The tier is chosen per run, so
    the rolling-back engine may run another tier than the checkpoint's
    owner, which the next run of that tier then loads."""
    web = make_web(seed=5, n_hosts=3, n_seed_roots=2, depth=1)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, wh, mode="reproduction", seen_filter=tier)
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=10)
    pre_round = eng.current_round() - 1
    gather0 = {r["image_id"] for r in eng.gather().collect()}
    stored_leaves = [
        (u, p["image_id"])
        for u, p in web.pages.items()
        if p["kind"] == "leaf" and p["image_id"] in gather0
    ]
    url, key = stored_leaves[0]
    other_url = next(u for u, k in stored_leaves if k != key)
    eng.purge_images([key])
    # force a filter rebuild from the post-purge seen set: the rebuilt
    # filter genuinely lacks X's entry (no dirty-bucket safety). The
    # round fetches a DIFFERENT stored leaf, so X is not re-stored and
    # the rebuilt filter (and its checkpoint) still lacks X
    eng._filter = None
    import shutil

    shutil.rmtree(eng._filter_dir, ignore_errors=True)
    eng.seed_urls([other_url], url_types=["leaf"])
    eng.run(max_rounds=5)

    # purge dropped: X is seen again
    if rollback_tier == tier:
        eng.rollback_to_round(pre_round)
    else:
        other = CrawlEngine(spark, wh, mode="reproduction", seen_filter=rollback_tier)
        other.rollback_to_round(pre_round)
        eng = CrawlEngine(spark, wh, mode="reproduction", seen_filter=tier)
        eng.set_web(web)
    eng.seed_urls([url], url_types=["leaf"])
    eng.run(max_rounds=5)
    rows = eng.images.read(spark).where(F.col("image_id") == key).count()
    assert rows == 1, "rollback past a purge must not allow a duplicate store"
    assert {r["image_id"] for r in eng.gather().collect()} == gather0


def test_purge_kills_pending_prepurge_enqueues(spark, tmp_path):
    """A URL already PENDING when its key is purged must not be stored as
    an invisible dead row when fetched later: the enqueue predates the
    purge (enqueue_seq <= purge_seq), so the purge wins and the fetch
    stores nothing; only a post-purge enqueue revives the key."""
    web = make_web(seed=5, n_hosts=3, n_seed_roots=2, depth=1)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), mode="reproduction")
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=10)
    url, key = next(
        (u, p["image_id"]) for u, p in web.pages.items() if p["kind"] == "leaf"
    )
    n_rows0 = eng.images.read(spark).count()
    # enqueue the URL (pending), THEN purge its key, THEN let it fetch
    eng.seed_urls([url], url_types=["leaf"])
    eng.purge_images([key])
    eng.run(max_rounds=5)
    # no new physical row: the pre-purge enqueue lost to the purge
    assert eng.images.read(spark).count() == n_rows0
    assert key not in {r["image_id"] for r in eng.gather().collect()}
    # a POST-purge enqueue revives it
    eng.seed_urls([url], url_types=["leaf"])
    eng.run(max_rounds=5)
    assert key in {r["image_id"] for r in eng.gather().collect()}


def test_purge_vacuum_physically_deletes(spark, tmp_path):
    """purge_images is merge-on-read; purge_vacuum is the physical
    completion: the dead row's bytes leave disk (only the affected
    commit dirs rewritten), other rows are byte-identical, re-store
    still works, and rollback can no longer resurrect the purged
    payload (the irreversibility GDPR wants)."""
    web = make_web(seed=5, n_hosts=3, n_seed_roots=2, depth=1)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), mode="reproduction")
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=10)
    pre_round = eng.current_round() - 1
    before = {
        r["image_id"]: (r["phash"], bytes(r["bytes"]))
        for r in eng.images.read(spark).collect()
    }
    url, key = next(
        (u, p["image_id"]) for u, p in web.pages.items() if p["kind"] == "leaf"
    )
    eng.purge_images([key])
    assert eng.purge_vacuum() >= 1
    # the row is PHYSICALLY gone from the raw log; everything else intact
    after = {
        r["image_id"]: (r["phash"], bytes(r["bytes"]))
        for r in eng.images.read(spark).collect()
    }
    assert key not in after
    assert after == {k: v for k, v in before.items() if k != key}
    assert eng.purge_vacuum() == 0  # idempotent: nothing left to delete

    # re-store works and survives a second vacuum (the new row is alive)
    eng.seed_urls([url], url_types=["leaf"])
    eng.run(max_rounds=5)
    assert dict(
        (r["image_id"], (r["phash"], bytes(r["bytes"])))
        for r in eng.gather().collect()
    ) == before
    assert eng.purge_vacuum() == 0

    # rollback to pre-purge CANNOT resurrect the purged bytes: the purge
    # tombstone is rolled back but the physical row no longer exists
    eng.rollback_to_round(pre_round)
    assert key not in {r["image_id"] for r in eng.gather().collect()}


def test_purge_vacuum_batches_multi_commit_purge(spark, tmp_path, monkeypatch):
    """A purge whose dead rows span several commits completes in ONE
    Spark write job (all touched dirs read together, output partitioned
    by owning dir) — not one driver-looped job per dir, which serializes
    at bulk-redaction frequency. Survivors stay byte-identical."""
    import os

    web = make_web(seed=7, n_hosts=4, n_seed_roots=3, depth=3)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), mode="reproduction")
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=10)
    # one victim key per physical data dir: the purge touches every
    # payload commit the crawl made
    rows = (
        eng.images.read(spark, schema=eng._images_keys_schema())
        .withColumn("_f", F.col("_metadata.file_path"))
        .select("image_id", "_f")
        .collect()
    )
    by_dir: dict = {}
    for r in rows:
        by_dir.setdefault(os.path.dirname(r["_f"]), r["image_id"])
    keys = sorted(by_dir.values())
    assert len(by_dir) >= 3  # the purge spans >= 3 commit dirs
    before = {
        r["image_id"]: (r["phash"], bytes(r["bytes"]))
        for r in eng.images.read(spark).collect()
    }
    eng.purge_images(keys)

    from pyspark.sql.readwriter import DataFrameWriter

    writes = []
    orig = DataFrameWriter.parquet

    def counted(self, path, **kw):
        writes.append(path)
        return orig(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", counted)
    assert eng.purge_vacuum() >= 3  # every touched dir was rewritten...
    assert len(writes) == 1  # ...by exactly one Spark write job
    after = {
        r["image_id"]: (r["phash"], bytes(r["bytes"]))
        for r in eng.images.read(spark).collect()
    }
    assert after == {k: v for k, v in before.items() if k not in set(keys)}
    assert eng.purge_vacuum() == 0  # idempotent


def test_purge_unknown_key_is_harmless(spark, tmp_path):
    web = make_web(seed=6, n_hosts=2, n_seed_roots=1, depth=1)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), mode="reproduction")
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=10)
    n = eng.gather().count()
    eng.purge_images(["no-such-key"])
    assert eng.gather().count() == n


def test_purge_vacuum_before_any_store(spark, tmp_path):
    """purge_vacuum on a warehouse whose images table has NO commits must
    return 0, not raise: an empty table reads as an in-memory
    createDataFrame relation where the _metadata file-source column does
    not exist (purge_images before the first fetch is a legal GDPR
    sequence — the tombstone alone already gates future enqueues)."""
    eng = CrawlEngine(spark, str(tmp_path / "wh"), mode="reproduction")
    eng.purge_images(["img_never_stored"])
    assert eng.purge_vacuum() == 0


def test_purge_vacuum_idempotent_after_emptying_every_dir(spark, tmp_path):
    """Purging EVERY stored key empties every images data dir; a second
    purge_vacuum (the op is idempotent by contract) must return 0, not
    crash — an empty-dir read comes from createDataFrame, which has no
    _metadata file-source column to scan."""
    web = make_web(seed=6, n_hosts=2, n_seed_roots=1, depth=1)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), mode="reproduction")
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=10)
    keys = [r["image_id"] for r in eng.images.read(spark).collect()]
    assert keys
    eng.purge_images(keys)
    assert eng.purge_vacuum() >= 1  # rewrites every dir to zero survivors
    assert eng.images.read(spark).count() == 0
    assert eng.purge_vacuum() == 0  # idempotent on the fully-emptied table
