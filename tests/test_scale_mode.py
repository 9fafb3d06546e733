"""North-rule upgrades: politeness budget (vs simulator), bloom seen-set
(vs exact anti-join), salted budget rank (vs unsalted)."""

import pytest
from pyspark.sql import functions as F

from weaver_spark.engine import CrawlEngine
from weaver_spark.operators.ranking import budget_rank
from weaver_spark.operators.seen import (
    BloomSeenSet,
    antijoin_bloom,
    antijoin_copartitioned,
    antijoin_exact,
)
from weaver_spark.sim import simulate_crawl
from weaver_spark.webgen import make_web


@pytest.fixture(scope="module")
def web():
    # mega-host skew: h0 owns ~half the URLs (FIXTURES.md §2)
    return make_web(seed=42, n_hosts=4, n_seed_roots=3, depth=2)


def test_politeness_budget_matches_simulator(spark, web, tmp_path_factory):
    """Scale mode with host_budget=2: same crawl order as the wave-based
    simulator with the same budget — deferral keeps enqueue_seq."""
    wh = str(tmp_path_factory.mktemp("wh_scale"))
    eng = CrawlEngine(spark, wh, mode="scale", host_budget=2)
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    eng.run(max_rounds=60)
    sim = simulate_crawl(web, host_budget=2)
    got = [r["url"] for r in eng.crawl_order().collect()]
    assert got == sim.crawl_order
    # budget reorders rounds but the fetched multiset is unchanged
    assert sorted(got) == sorted(simulate_crawl(web).crawl_order)


def test_budget_rank_salted_equals_unsalted(spark):
    rows = [
        (f"h{i % 3}.test", i * 7919 % 1000, i, i % 5) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "host string, url_hash long, enqueue_seq long, priority int")
    order = [F.col("priority").desc(), F.col("enqueue_seq").asc()]
    plain, _ = budget_rank(df, "host", order, budget=4)
    salted, deferred = budget_rank(
        df, "host", order, budget=4, salt_col=F.col("url_hash"), salt_buckets=8
    )
    key = lambda r: (r["host"], r["enqueue_seq"])
    assert sorted(map(key, plain.collect())) == sorted(map(key, salted.collect()))
    assert salted.count() + deferred.count() == 300


def test_bloom_antijoin_equals_exact(spark):
    cand = spark.createDataFrame(
        [(f"k{i}", i) for i in range(2000)], "image_id string, v long"
    )
    seen = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 2000, 3)], "image_id string"
    )
    exact = {r["image_id"] for r in antijoin_exact(cand, seen, "image_id").collect()}
    bloom = {
        r["image_id"]
        for r in antijoin_bloom(cand, seen, "image_id", expected_items=700, n_shards=4).collect()
    }
    copart = {
        r["image_id"]
        for r in antijoin_copartitioned(cand, seen, "image_id", buckets=8).collect()
    }
    assert bloom == exact
    assert copart == exact
    assert len(exact) == 2000 - len(range(0, 2000, 3))


def test_bloom_no_false_negatives_and_low_fp(spark):
    seen = spark.createDataFrame([(f"s{i}",) for i in range(5000)], "k string")
    bloom = BloomSeenSet.build(seen, "k", expected_items=5000, fpp=0.01, n_shards=2)
    probe = bloom.might_contain_udf(spark)
    mixed = spark.createDataFrame(
        [(f"s{i}",) for i in range(5000)] + [(f"x{i}",) for i in range(5000)], "k string"
    )
    hashed = mixed.withColumn("h1", F.xxhash64(F.col("k"), F.lit(0x9E3779B9))).withColumn(
        "h2", F.xxhash64(F.col("k"), F.lit(0x85EBCA6B))
    )
    got = hashed.withColumn("hit", probe(F.col("h1"), F.col("h2"))).collect()
    members = [r for r in got if r["k"].startswith("s")]
    non = [r for r in got if r["k"].startswith("x")]
    assert all(r["hit"] for r in members)  # no false negatives, ever
    fp = sum(1 for r in non if r["hit"]) / len(non)
    assert fp < 0.05  # ~1% target, generous bound


def test_engine_bloom_mode_same_results(spark, web, tmp_path_factory):
    """The bloom seen filter only reroutes rows around the exact join —
    stored table must be identical."""
    wh1 = str(tmp_path_factory.mktemp("wh_nb"))
    wh2 = str(tmp_path_factory.mktemp("wh_bl"))
    outs = []
    for wh, filt in ((wh1, "exact"), (wh2, "bloom")):
        eng = CrawlEngine(spark, wh, mode="reproduction", seen_filter=filt)
        eng.set_web(web)
        eng.seed_urls(web.seeds)
        eng.run(max_rounds=20)
        outs.append(
            sorted(
                (r["image_id"], r["phash"], r["caption"])
                for r in eng.gather().collect()
            )
        )
    assert outs[0] == outs[1]
