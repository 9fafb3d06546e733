"""Carry exactness: the head scalars a round carries into the next one
(pending count, max enqueue_seq) must equal the exact head aggregate after
every round, whichever way they were obtained. WEAVER_DEBUG_CARRY=1 makes
the engine run the aggregate every round and assert the carry against it.

The crawls cover every path that feeds the carry: robots-blocked rows
counted by an observation on the round's frontier write, retries whose
per-bucket counts join the link counts, the head observed by a whole-state
compaction (``compact_every=1``), bucketed incremental compaction that
observes nothing (the arithmetic carry, refreshed by the aggregate), and
no compaction at all. Each crawl must also match the simulator.
"""

import tempfile

import pytest
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from weaver_spark.engine import CrawlEngine, _seq_range
from weaver_spark.operators.robots import sim_robots_config
from weaver_spark.session import local_df
from weaver_spark.sim import simulate_crawl
from weaver_spark.webgen import make_deep_web, make_robots

PARAMS = dict(n_seed_roots=2, child_roots=2, depth=3, leaves_per_root=3, n_hosts=4)
BUDGET = 2
DEAD = "http://h0.test/missing/a"  # a 404 link on the first seed root


def _crawl(spark, monkeypatch, web, robots_rows, **engine_kw):
    monkeypatch.setenv("WEAVER_DEBUG_CARRY", "1")
    eng = CrawlEngine(
        spark,
        tempfile.mkdtemp(prefix="weaver_carry_"),
        mode="scale",
        host_budget=BUDGET,
        priority_mode="depth",
        retry_failed=1,
        retry_min_status=400,  # synthetic missing page = 404
        **engine_kw,
    )
    eng.set_robots(robots_rows)
    eng.set_web(web)
    eng.seed_urls(web.seeds)
    stats = eng.run(max_rounds=60)
    sim = simulate_crawl(
        web,
        host_budget=BUDGET,
        robots=sim_robots_config(robots_rows),
        priority_mode="depth",
        retry_failed=1,
    )
    return eng, sim, stats


def _assert_matches_sim(eng, sim, stats):
    assert [r["url"] for r in eng.crawl_order().collect()] == sim.crawl_order
    seen = {r["image_id"] for r in eng.gather().select("image_id").collect()}
    assert seen == sim.seen_set
    state = eng.frontier.latest_state(eng.spark).collect()
    assert {r["enqueue_seq"]: r["status"] for r in state} == {
        seq: st for seq, _url, st in sim.statuses
    }
    assert len(stats) == len(sim.rounds)


@pytest.fixture(scope="module")
def dead_link_web():
    web = make_deep_web(**PARAMS)
    web.pages[web.seeds[0]]["links"].append(DEAD)
    return web


@pytest.mark.parametrize(
    "engine_kw",
    [
        dict(compact_every=1),  # every round's head observed by compaction
        dict(compact_every=2, compact_buckets=4),  # incremental: agg fallback
        dict(),  # no compaction: arithmetic carry only
    ],
    ids=["observed_head", "bucketed_fallback", "no_compaction"],
)
def test_carry_exact_with_robots_budget_retries(
    spark, monkeypatch, dead_link_web, engine_kw
):
    robots = make_robots(n_hosts=4, disallow_hosts=(1, 3), slow_host=-1)
    eng, sim, stats = _crawl(spark, monkeypatch, dead_link_web, robots, **engine_kw)
    _assert_matches_sim(eng, sim, stats)
    assert sum(s["retried"] for s in stats) == 1  # the dead link, once
    assert any(st == "blocked" for _seq, _url, st in sim.statuses)


def test_carry_exact_empty_robots_table(spark, monkeypatch):
    """An empty robots table still runs the enforcement join and the
    blocked-row observation; the observation of an all-empty branch must
    report 0, not hang."""
    eng, sim, stats = _crawl(
        spark, monkeypatch, make_deep_web(**PARAMS), [], compact_every=1
    )
    _assert_matches_sim(eng, sim, stats)


def test_carry_exact_round_with_every_pending_row_blocked(spark, monkeypatch):
    """Round 1's whole pending set is disallowed: the batch is empty, so
    the fetch write observes no seq range, the round commits only blocked
    rows, and the carry (0 pending) ends the crawl."""
    web = make_deep_web(
        n_seed_roots=1, child_roots=1, depth=1, leaves_per_root=2, n_hosts=2
    )
    robots = make_robots(n_hosts=2, disallow_hosts=(0, 1), slow_host=-1)
    eng, sim, stats = _crawl(spark, monkeypatch, web, robots, compact_every=1)
    _assert_matches_sim(eng, sim, stats)
    assert [s["batch"] for s in stats] == [1, 0]
    assert sim.blocked and not sim.seen_set


def _observed_range(df: DataFrame) -> tuple[int, int] | None:
    obs = Observation()
    df.observe(
        obs, F.min("enqueue_seq").alias("lo"), F.max("enqueue_seq").alias("hi")
    ).write.format("noop").mode("overwrite").save()
    return _seq_range(obs.get)


def test_observed_seq_range(spark):
    rows = [(5,), (2,), (9,)]
    assert _observed_range(local_df(spark, rows, "enqueue_seq long")) == (2, 9)
    # an empty batch observes null bounds: no range
    assert _observed_range(local_df(spark, [], "enqueue_seq long")) is None
