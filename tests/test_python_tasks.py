"""Python workers only where Python work is.

Every task that starts a Python worker pays a fixed start-up before any
work (about 0.27 s in pyspark 4.1), so the crawl round keeps its Python
tasks to the fetch stage:

- driver-side rows (robots rules, empty-table reads) are planned as a
  ``LocalTableScan``, not a ``Scan ExistingRDD`` whose every scan runs a
  Python task per partition;
- the synthetic fetch fn emits canonical links, so the links pass runs
  no canonicalize UDF;
- a small batch fetches in one wave of ``spark.sql.shuffle.partitions``
  tasks; only a big one gets four.
"""

import os
import tempfile

import pandas as pd
import pytest

from weaver_spark.catalog import DeltaTable
from weaver_spark import engine
from weaver_spark.engine import CrawlEngine
from weaver_spark.functions.urls import canonicalize_series
from weaver_spark.operators.fetch import make_synthetic_fetch_fn
from weaver_spark.schemas import FRONTIER_SCHEMA
from weaver_spark.webgen import make_deep_web_df, make_robots, make_web


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_run(spark, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup("python_tasks_probe", "probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup("python_tasks_probe"))


def test_robots_rows_scan_without_python(spark):
    eng = CrawlEngine(spark, tempfile.mkdtemp(prefix="weaver_pyt_"), mode="scale")
    eng.set_robots(make_robots(n_hosts=4, allow_spec={2: ["/item/1"]}))
    plan = _plan(eng.robots_df)
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    # the rows themselves survive the Arrow path, short rows padded
    got = {r["host"]: r for r in eng.robots_df.collect()}
    assert len(got) == 4
    assert got["h2.test"]["allow_prefixes"] == ["/item/1"]
    assert got["h0.test"]["sitemaps"] is None
    with pytest.raises(ValueError, match="host"):
        eng.set_robots([(None, [], 0)])  # host is non-nullable


def test_empty_table_reads_run_no_python(spark):
    t = DeltaTable(
        os.path.join(tempfile.mkdtemp(prefix="weaver_pyt_"), "frontier"),
        FRONTIER_SCHEMA,
        key="enqueue_seq",
    )
    reads = {
        "read": t.read(spark),
        "latest_state": t.latest_state(spark),
        "read_since": t.read_since(spark, 0),
    }
    for name, df in reads.items():
        plan = _plan(df)
        assert "ExistingRDD" not in plan, (name, plan)
        assert df.schema == FRONTIER_SCHEMA, name
        assert _jobs_run(spark, df.collect) == 0, name


def test_synthetic_fetch_emits_canonical_links():
    web = make_web(seed=7, n_hosts=4, n_seed_roots=3, depth=2, messy_frac=0.5)
    roots = [(u, p) for u, p in sorted(web.pages.items()) if p["kind"] == "root"]
    k_cap = 3
    raw = [list(p["links"])[:k_cap] for _u, p in roots]
    flat = [s for links in raw for s in links]
    want_flat = canonicalize_series(pd.Series(flat)).tolist()
    # the web really carries messy spellings: the check is not vacuous
    assert any(a != b for a, b in zip(flat, want_flat))
    n = len(roots) + 1
    pdf = pd.DataFrame(
        {
            "url": [u for u, _p in roots] + ["http://h0.test/missing"],
            "enqueue_seq": range(n),
            "host": ["h0.test"] * n,
            "url_type": ["root"] * n,
            "depth": [0] * n,
            "page_kind": ["root"] * len(roots) + [None],
            "page_links": [p["links"] for _u, p in roots] + [None],
            "page_image_id": [None] * n,
            "page_fmt": [None] * n,
            "page_caption": [None] * n,
        }
    )
    [out] = list(make_synthetic_fetch_fn(k_cap, seed=7)(iter([pdf])))
    want = [canonicalize_series(pd.Series(links)).tolist() for links in raw]
    assert [list(x) for x in out["links"][: len(roots)]] == want
    assert out["links"].iloc[-1] is None  # 404: nothing extracted


def test_fetch_partitions_sizing():
    size = engine._fetch_partitions
    assert size(0, 4) == 4
    assert size(300, 4) == 4  # a budget-capped crawl_deep round: one wave
    assert size(1500, 4) == 6
    assert size(10**5, 4) == 16  # big batches keep 4 waves


def test_small_round_fetches_in_one_wave(spark):
    seeds, df = make_deep_web_df(
        spark, n_seed_roots=2, child_roots=2, depth=3, leaves_per_root=10, n_hosts=4
    )
    wh = tempfile.mkdtemp(prefix="weaver_pyt_")
    eng = CrawlEngine(spark, wh, mode="scale", keep_stage=True)
    eng.set_web_df(df)
    eng.seed_urls(seeds)
    stats = eng.run(max_rounds=3)
    # a round with rows enough to spread over more than P tasks
    assert max(s["batch"] for s in stats) >= 40
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for s in stats:
        r = s["round"]
        # the stage's metadata sink, plus its payload sink, which the
        # images commit adopted (moved) out of the stage dir
        stage = os.path.join(wh, "_stage", f"r{r:05d}")
        dirs = [os.path.join(stage, d) for d in os.listdir(stage) if d.startswith("sink=")]
        cid = eng.images.find_commit(round=r)
        if cid is not None:
            dirs += eng.images.commit_files(cid)
        # part-<task partition id>-<uuid>...: one file per writing task
        tasks = {
            f.split("-")[1] for d in dirs for f in os.listdir(d) if f.startswith("part-")
        }
        assert 0 < len(tasks) <= p, (r, s["batch"], sorted(tasks))
