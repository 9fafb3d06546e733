"""The ``crawl_deep`` workload: a multi-round crawl of a deep synthetic web.

Shape: ``make_deep_web_df`` with a 4-level root tree, scale mode,
``priority_mode="depth"``, disallow-only robots rules on two hosts, a host
budget that caps every round after the first, and frontier compaction
every round. Rounds are small (a few hundred URLs), so the
per-round fixed Spark jobs set the wall: scheduling, ``dense_seq_numeric``,
the frontier/metrics/lineage commits and compaction.

One closed-loop client: the next ``run_round`` starts when the previous
one returns. The first ``WARM_ROUNDS`` rounds of the crawl warm the JIT
and are not timed; ``timed_rounds(--seconds)`` timed rounds follow.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
from unittest import mock

from . import common
from .common import OpLog, log

FULL = dict(n_seed_roots=4, child_roots=2, depth=4, leaves_per_root=100, n_hosts=32)
FULL_ENGINE = dict(host_budget=10, compact_every=1)
TINY = dict(n_seed_roots=2, child_roots=2, depth=3, leaves_per_root=3, n_hosts=4)
TINY_ENGINE = dict(host_budget=2, compact_every=1)
DISALLOW_HOSTS = (1, 3)
WARM_ROUNDS = 1
ROUND_NOMINAL_S = 10.0  # one budget-capped round on a 4-vCPU Xeon VM
READ_REPS = 6
SAMPLE_PAYLOADS = 8


def _robots_rows(n_hosts: int) -> list[tuple]:
    from weaver_spark.webgen import make_robots

    return make_robots(n_hosts=n_hosts, disallow_hosts=DISALLOW_HOSTS, slow_host=-1)


def _no_payload(image_id: str, seed: int = 42):
    return b"", 0, 0, "", 0


def simulate(shape: dict, engine_kw: dict, seed: int):
    """The simulator's crawl of the driver-side mirror web. Two stand-ins
    keep it fast without changing its answer: URLs are canonicalized in
    one vectorized pass up front (``canonicalize_url`` is a one-row
    pandas call per URL), and payload synthesis is stubbed out, since
    order and seen set do not depend on it; payloads are checked by
    sampling against ``gen_payload`` instead."""
    import pandas as pd

    from weaver_spark import sim
    from weaver_spark.functions.urls import canonicalize_series
    from weaver_spark.operators.robots import sim_robots_config
    from weaver_spark.webgen import make_deep_web

    web = make_deep_web(seed=seed, **shape)
    urls = set(web.seeds) | set(web.pages)
    for page in web.pages.values():
        urls.update(page.get("links") or [])
    raw = sorted(urls)
    canon = dict(zip(raw, canonicalize_series(pd.Series(raw)).tolist()))
    robots = sim_robots_config(_robots_rows(shape["n_hosts"]))
    with mock.patch.object(sim, "gen_payload", _no_payload), \
            mock.patch.object(sim, "canonicalize_url", canon.__getitem__):
        res = sim.simulate_crawl(
            web,
            host_budget=engine_kw["host_budget"],
            robots=robots,
            priority_mode="depth",
        )
    return web, res


class CrawlSetup:
    """One set-up: session, the web DataFrame, and an engine with robots
    rules and the web registered. The simulator's expected crawl is the
    benchmark's oracle, not the program's work: ``simulate`` runs once per
    run, outside the set-ups."""

    def __init__(self, seed: int, shape: dict, engine_kw: dict, name: str,
                 extra_conf: dict | None = None):
        from weaver_spark.engine import CrawlEngine
        from weaver_spark.webgen import make_deep_web_df

        t0 = time.perf_counter()
        self.spark = common.start_session(extra_conf)
        self.session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        self.seeds, web_df = make_deep_web_df(self.spark, **shape)
        self.warehouse = os.path.join(common.WORK, "warehouse", name)
        self.engine = CrawlEngine(
            self.spark, self.warehouse, mode="scale", priority_mode="depth",
            seed=seed, **engine_kw,
        )
        self.engine.set_robots(_robots_rows(shape["n_hosts"]))
        self.engine.set_web_df(web_df)
        self.webgen_s = time.perf_counter() - t1
        self.seed = seed


def timed_rounds(seconds: float) -> int:
    """Rounds a run times: at least ``seconds`` of work at the nominal
    round cost. The count depends on ``seconds`` alone, never on how fast
    the host is, so every run times the same rounds of the crawl."""
    return max(1, math.ceil(seconds / ROUND_NOMINAL_S))


def crawl(setup: CrawlSetup, n_timed: int, ops: OpLog, group=None) -> dict:
    """Seed, run the warm rounds, then ``n_timed`` timed rounds."""
    group = group or (lambda name: contextlib.nullcontext())
    eng = setup.engine
    t0 = time.perf_counter()
    with group("seed"):
        eng.seed_urls(setup.seeds)
    out = {"seed_s": time.perf_counter() - t0, "walls": [], "cpus": [], "fetched": [],
           "warm_walls": [], "rounds_run": 0}
    for n in range(WARM_ROUNDS + n_timed):
        warm = n < WARM_ROUNDS
        clock = common.start_clock()
        try:
            with group(f"warm:{n}" if warm else f"round:{n}"):
                st = eng.run_round()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            log(f"round {n} raised {type(e).__name__}: {e}")
            ops.record(False, f"round {n} raised")
            break
        wall, cpu = common.stop_clock(clock)
        if st is None:
            break
        out["rounds_run"] += 1
        if warm:
            out["warm_walls"].append(wall)
        else:
            out["walls"].append(wall)
            out["cpus"].append(cpu)
            out["fetched"].append(st["batch"])
    return out


def check(setup: CrawlSetup, oracle: tuple, rounds_run: int, ops: OpLog,
          corrupt: str | None = None) -> None:
    """Compare the crawl's first ``rounds_run`` rounds with the simulator's
    (``oracle``, from ``simulate``):
    per-round crawl order, the stored key set, and sampled payloads
    against ``webgen.gen_payload``. One verdict per round."""
    from pyspark.sql import functions as F

    from weaver_spark.webgen import gen_payload

    eng, (web, sim) = setup.engine, oracle
    got_rounds: dict[int, list[str]] = {}
    for r in eng.crawl_order().collect():
        got_rounds.setdefault(r["round"], []).append(r["url"])
    stored = {r["image_id"] for r in eng.gather().select("image_id").collect()}
    if corrupt == "gather" and stored:
        stored.discard(min(stored))
    owner: dict[str, int] = {}
    want_ids: set[str] = set()
    for i, urls in enumerate(sim.rounds[:rounds_run]):
        for u in urls:
            page = web.pages.get(u)
            if page and page["kind"] == "leaf" and page["image_id"] not in owner:
                owner[page["image_id"]] = i
                want_ids.add(page["image_id"])
    bad_rounds = {owner.get(iid, rounds_run - 1) for iid in stored ^ want_ids}
    sample = sorted(stored)[:: max(len(stored) // SAMPLE_PAYLOADS, 1)][:SAMPLE_PAYLOADS]
    if sample:
        rows = eng.gather().where(F.col("image_id").isin(sample)).collect()
        for r in rows:
            payload, w, h, fmt, ph = gen_payload(r["image_id"], setup.seed)
            if (bytes(r["bytes"]), r["w"], r["h"], r["fmt"], r["phash"]) != (payload, w, h, fmt, ph):
                bad_rounds.add(owner.get(r["image_id"], rounds_run - 1))
    for i in range(rounds_run):
        want = sim.rounds[i] if i < len(sim.rounds) else None
        ok = got_rounds.get(i) == want and i not in bad_rounds
        ops.record(ok, f"round {i} output differs from the simulator")


def reads(eng, ops: OpLog, reps: int, group=None) -> list[dict[str, dict[str, float]]]:
    """The ``gather`` operation and the two log reads, each materialized
    in full through the noop sink, ``reps`` times; wall and CPU seconds
    per read per repetition."""
    group = group or (lambda name: contextlib.nullcontext())
    out = []
    for _ in range(reps):
        walls, cpus = {}, {}
        for name in ("gather", "crawl_order", "enqueue_log"):
            clock = common.start_clock()
            try:
                with group(name):
                    getattr(eng, name)().write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                log(f"{name} raised {type(e).__name__}: {e}")
                ok = False
            walls[name], cpus[name] = common.stop_clock(clock)
            ops.record(ok, f"{name} raised")
        out.append({"wall": walls, "cpu": cpus})
    return out


def table_files(root: str) -> tuple[int, int]:
    """(parquet data files, bytes) under one table dir."""
    n = size = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size
