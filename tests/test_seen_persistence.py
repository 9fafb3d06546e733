"""Persistent seen-filter maintenance (the north rule's bloom →
partitioned-cuckoo upgrade path, hardened):

- bloom mode builds the filter ONCE per crawl and maintains it by
  OR-merging each round's stored keys — the steady-state round launches
  no O(seen) job over the images table (the rebuild-per-round
  anti-pattern this file exists to forbid);
- both tiers checkpoint under the warehouse: a restarted engine reloads
  the checkpoint (witnessed by forbidding `build`) and catches up
  commits past the saved watermark in O(delta), so a crash between the
  images commit and the filter save can never yield duplicate stores;
- after rollback both filters are stale-but-SAFE: they may keep
  fingerprints of rolled-back keys (false positives, absorbed by the
  exact confirm) but never report a stored key as new, and the
  checkpoint is re-stamped at the rolled-back head (or dropped).
"""

import os

import pytest

from weaver_spark.engine import CrawlEngine
from weaver_spark.operators import cuckoo as cuckoo_mod
from weaver_spark.operators import seen as seen_mod
from weaver_spark.sim import simulate_crawl
from weaver_spark.webgen import make_web


@pytest.fixture(scope="module")
def web():
    return make_web(seed=11, n_hosts=4, n_seed_roots=3, depth=2)


def _stored(eng):
    return sorted(
        (r["image_id"], r["phash"]) for r in eng.images.read(eng.spark).collect()
    )


def test_bloom_built_once_and_maintained(spark, web, tmp_path, monkeypatch):
    calls = []
    orig = seen_mod.BloomSeenSet.build

    def counted(df, key, expected_items, **kw):
        calls.append(expected_items)
        return orig(df, key, expected_items, **kw)

    monkeypatch.setattr(seen_mod.BloomSeenSet, "build", staticmethod(counted))
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), mode="reproduction", seen_filter="bloom"
    )
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    stats = eng.run(max_rounds=20)
    assert len(stats) >= 3  # multi-round crawl...
    assert len(calls) == 1  # ...but exactly one filter build
    assert eng._filter is not None and eng._filter.n_inserted > 0
    sim = simulate_crawl(web)
    stored = _stored(eng)
    assert {k for k, _ in stored} == sim.seen_set
    assert len(stored) == len(sim.seen_set)  # no duplicate stores


TIERS = {"bloom": seen_mod.BloomSeenSet, "cuckoo": cuckoo_mod.CuckooSeenSet}


def _forbid_build(monkeypatch, tier):
    def boom(*a, **kw):  # a restart must never pay the O(seen) rebuild
        raise AssertionError(f"{tier} filter build called after restart")

    monkeypatch.setattr(TIERS[tier], "build", staticmethod(boom))


def _emptied(filt):
    """A filter of the same shape with every entry cleared."""
    if isinstance(filt, seen_mod.BloomSeenSet):
        return seen_mod.BloomSeenSet(
            filt.bits_per_shard,
            filt.n_hashes,
            filt.shards * 0,
            capacity=filt.capacity,
            n_inserted=0,
        )
    return cuckoo_mod.CuckooSeenSet(
        filt.n_buckets, filt.slots, filt.shards * 0, filt.saturated & False
    )


@pytest.mark.parametrize("tier", ["bloom", "cuckoo"])
def test_restart_reloads_checkpoint(spark, web, tmp_path, monkeypatch, tier):
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, wh, mode="reproduction", seen_filter=tier)
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=20)
    first = _stored(eng)
    assert os.path.exists(os.path.join(wh, "_filters", tier, "current.json"))

    _forbid_build(monkeypatch, tier)
    eng2 = CrawlEngine(spark, wh, mode="reproduction", seen_filter=tier)
    eng2.set_web(web)
    eng2.seed_urls(web.seeds)  # re-enqueue everything: all dup payloads
    eng2.run(max_rounds=20)
    assert _stored(eng2) == first  # nothing re-stored, nothing lost


@pytest.mark.parametrize("tier", ["bloom", "cuckoo"])
def test_watermark_catchup_prevents_dup_stores(spark, web, tmp_path, monkeypatch, tier):
    """Crash window: images commit landed but the filter save didn't.
    The reloaded filter is missing those keys — without the watermark
    catch-up they'd probe definitely-new, skip the exact join, and be
    stored AGAIN (duplicate rows). Simulate with an emptied filter
    stamped at watermark 0."""
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, wh, mode="reproduction", seen_filter=tier)
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=20)
    first = _stored(eng)

    fdir = os.path.join(wh, "_filters", tier)
    filt, wm = TIERS[tier].load(fdir)
    assert wm == eng.images.last_commit()
    # a filter state that predates the whole crawl, stamped honestly
    _emptied(filt).save(fdir, watermark=0)

    _forbid_build(monkeypatch, tier)
    eng2 = CrawlEngine(spark, wh, mode="reproduction", seen_filter=tier)
    eng2.set_web(web)
    eng2.seed_urls(web.seeds)
    eng2.run(max_rounds=20)
    assert _stored(eng2) == first  # catch-up restored coverage: no dups


@pytest.mark.parametrize("filt", ["bloom", "cuckoo"])
def test_rollback_filter_stale_but_safe(spark, web, tmp_path, filt):
    """Rollback leaves the filter covering MORE keys than the table
    (false positives only). Re-running the crawl must converge to the
    same stored set with no duplicates and no false negatives."""
    wh = str(tmp_path / f"wh_{filt}")
    eng = CrawlEngine(spark, wh, mode="reproduction", seen_filter=filt)
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=20)
    final = _stored(eng)
    eng.rollback_to_round(0)
    # commit ids are reused after a rollback: a checkpoint left stamped
    # past the head would alias them and skip a later watermark catch-up
    loaded = TIERS[filt].load(os.path.join(wh, "_filters", filt))
    assert loaded is None or loaded[1] == eng.images.last_commit()
    eng.run(max_rounds=20)  # same engine: in-memory filter is stale now
    assert _stored(eng) == final
