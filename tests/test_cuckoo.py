"""Partitioned cuckoo-filter seen-set: equivalence with the exact
anti-join (the authoritative semantics), zero false negatives, graceful
saturation, and deletion with dirty-bucket exactness (the capability
Bloom lacks — the GDPR-purge / DHT-Del path)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from weaver_spark.operators.cuckoo import (
    CuckooSeenSet,
    antijoin_cuckoo,
    spark_key_hasher,
)
from weaver_spark.operators.seen import antijoin_exact


@pytest.fixture(scope="module")
def keysets(spark):
    seen = spark.range(0, 5000).select(
        F.format_string("http://h%d.test/item/%d", F.col("id") % 7, F.col("id")).alias(
            "url"
        )
    )
    # candidates: half overlap with seen, half new
    cand = spark.range(2500, 7500).select(
        F.format_string("http://h%d.test/item/%d", F.col("id") % 7, F.col("id")).alias(
            "url"
        )
    )
    return seen.persist(), cand.persist()


def test_cuckoo_antijoin_equals_exact(spark, keysets):
    seen, cand = keysets
    got = sorted(
        r["url"] for r in antijoin_cuckoo(cand, seen, "url", expected_items=5000).collect()
    )
    want = sorted(r["url"] for r in antijoin_exact(cand, seen, "url").collect())
    assert got == want and len(want) == 2500


def test_cuckoo_no_false_negatives(spark, keysets):
    seen, _ = keysets
    filt = CuckooSeenSet.build(seen, "url", expected_items=5000)
    assert not filt.saturated.any()  # sized for the load, no degrade
    h1, h2 = spark_key_hasher(spark, seen, "url")
    assert filt._probe_arrays(h1, h2).all()  # every inserted key answers seen


def test_cuckoo_saturation_degrades_not_breaks(spark, keysets):
    seen, cand = keysets
    # force overflow: capacity for ~64 keys, 5000 inserted
    filt = CuckooSeenSet.build(seen, "url", expected_items=64, n_shards=2)
    assert filt.saturated.any()
    got = sorted(
        r["url"]
        for r in antijoin_cuckoo(
            cand, seen, "url", expected_items=64, n_shards=2, filt=filt
        ).collect()
    )
    want = sorted(r["url"] for r in antijoin_exact(cand, seen, "url").collect())
    assert got == want  # saturated shards route through the exact join


def test_cuckoo_incremental_insert(spark, keysets):
    """Cross-round maintenance: build from half the keys, insert the
    rest with the distributed insert — no false negatives over the
    union, and the antijoin still matches exact."""
    seen, cand = keysets
    first_half = seen.limit(2500).persist()
    filt = CuckooSeenSet.build(first_half, "url", expected_items=10000)
    rest = seen.join(first_half, "url", "left_anti")
    assert filt.insert_df(rest, "url")
    h1, h2 = spark_key_hasher(spark, seen, "url")
    assert filt._probe_arrays(h1, h2).all()
    got = sorted(
        r["url"]
        for r in antijoin_cuckoo(
            cand, seen, "url", expected_items=0, filt=filt
        ).collect()
    )
    want = sorted(r["url"] for r in antijoin_exact(cand, seen, "url").collect())
    assert got == want
    first_half.unpersist()


def test_cuckoo_delete_reopens_keys_exactly(spark, keysets):
    seen, cand = keysets
    filt = CuckooSeenSet.build(seen, "url", expected_items=5000)
    # purge keys 3000..3499 (they overlap the candidate range)
    purged = spark.range(3000, 3500).select(
        F.format_string("http://h%d.test/item/%d", F.col("id") % 7, F.col("id")).alias(
            "url"
        )
    )
    n = filt.delete_hashes(*spark_key_hasher(spark, purged, "url"))
    assert n == 500 and len(filt.dirty) > 0

    # table-side purge too: the filter mirrors the table's delete
    seen_after = seen.join(purged, "url", "left_anti").persist()
    got = sorted(
        r["url"]
        for r in antijoin_cuckoo(
            cand, seen_after, "url", expected_items=5000, filt=filt
        ).collect()
    )
    want = sorted(r["url"] for r in antijoin_exact(cand, seen_after, "url").collect())
    assert got == want  # purged keys are new again; nothing else leaked
    assert len(want) == 3000  # 2500 fresh + 500 reopened
    seen_after.unpersist()


def test_engine_crawl_with_cuckoo_seen_filter(spark):
    """Full crawl with seen_filter='cuckoo': stored keys identical to
    the reference simulator (the filter is a prefilter, never the
    authority — same gate the bloom path passes)."""
    import tempfile

    from weaver_spark.engine import CrawlEngine
    from weaver_spark.sim import simulate_crawl
    from weaver_spark.webgen import make_web

    web = make_web(seed=7, n_hosts=4, n_seed_roots=2, depth=2)
    eng = CrawlEngine(
        spark, tempfile.mkdtemp(prefix="weaver_ck_"), mode="reproduction",
        seen_filter="cuckoo",
    )
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=10)
    sim = simulate_crawl(web)
    got = {r["image_id"] for r in eng.gather().select("image_id").collect()}
    assert got == sim.seen_set


def test_cuckoo_probe_matches_between_driver_and_udf(spark, keysets):
    """The broadcast UDF probe and the driver-side arrays must agree —
    including the dirty-bucket path after a delete."""
    seen, cand = keysets
    filt = CuckooSeenSet.build(seen, "url", expected_items=5000)
    purged = seen.limit(50)
    filt.delete_hashes(*spark_key_hasher(spark, purged, "url"))

    from weaver_spark.operators.seen import _hash_cols

    hashed = _hash_cols(cand, "url")
    probe = filt.might_contain_udf(spark)
    udf_rows = hashed.withColumn(
        "maybe", probe(F.col("_bh1"), F.col("_bh2"))
    ).select("url", "maybe").collect()
    h1, h2 = spark_key_hasher(spark, cand, "url")
    urls_sorted = sorted(r["url"] for r in cand.collect())
    # spark_key_hasher distinct-orders arbitrarily; rebuild aligned arrays
    rows = _hash_cols(cand, "url").select("url", "_bh1", "_bh2").collect()
    driver = {
        r["url"]: bool(
            filt._probe_arrays(
                np.array([r["_bh1"]], dtype=np.int64).view(np.uint64),
                np.array([r["_bh2"]], dtype=np.int64).view(np.uint64),
            )[0]
        )
        for r in rows
    }
    assert urls_sorted  # sanity
    for r in udf_rows:
        assert r["maybe"] == driver[r["url"]]
