"""The driver actions of a steady-state crawl round.

Every scalar a round needs rides a job the round runs anyway: the head
scalars are observed by the previous round's compaction, the blocked-row
count by the frontier write, the seq range by the fetch-stage write, and
the per-bucket link counts by the stats rollup. So a steady round of a
crawl with robots rules, a host budget and compaction every round makes
exactly one driver collect (the rollup) and no ``count``.
"""

import tempfile

from weaver_spark.engine import CrawlEngine
from weaver_spark.schemas import STATUS_BLOCKED
from weaver_spark.webgen import make_deep_web_df, make_robots

PARAMS = dict(n_seed_roots=2, child_roots=2, depth=3, leaves_per_root=3, n_hosts=4)


def test_steady_round_collects_once_and_never_counts(spark, monkeypatch):
    seeds, df = make_deep_web_df(spark, **PARAMS)
    eng = CrawlEngine(
        spark,
        tempfile.mkdtemp(prefix="weaver_actions_"),
        mode="scale",
        priority_mode="depth",
        host_budget=2,
        compact_every=1,
    )
    eng.set_robots(make_robots(n_hosts=4, disallow_hosts=(1, 3), slow_host=-1))
    eng.set_web_df(df)
    eng.seed_urls(seeds)
    assert eng.run_round() is not None  # round 0: no carry yet

    calls = []
    cls = type(df)  # the session's concrete DataFrame class
    for name in ("collect", "count"):
        orig = getattr(cls, name)

        def spy(self, *a, _orig=orig, _name=name, **k):
            calls.append(_name)
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, name, spy)
    stats = eng.run_round()
    monkeypatch.undo()

    assert stats["batch"] > 0 and stats["links"] > 0
    # the seeds are root pages, so every blocked row is round 1's
    state = eng.frontier.latest_state(spark)
    assert state.where(f"status = '{STATUS_BLOCKED}'").count() > 0
    assert calls == ["collect"]
