#!/usr/bin/env python3
"""weaver_spark benchmark: one workload per invocation, one JSON result.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 10 --trace 0

Prints, as the last line of stdout, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. Diagnostics (session start,
host steal, set-up samples) go to stderr. See perfbench/README.md for
what each metric measures and which layer should move it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.common import OpLog, geomean, log, median  # noqa: E402

WORKLOADS = ("crawl_deep", "analytics")
# set-ups timed after the untimed first one (which launches the JVM)
SETUP_REPS = {"crawl_deep": 3, "analytics": 4}
E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "op_wall_s": "s",
    "read_s": "s",
}
# figures of the untraced phase that are not gated; traced runs print them
WALL_UNITS = {
    "wall.setup_s": "s",
    "wall.throughput_per_s": "1/s",
}


def _registry_names() -> list[str]:
    from weaver_spark.queries import REGISTRY

    return list(REGISTRY)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {
        **WALL_UNITS,
        "session.start_s": "s",
        "webgen.build_s": "s",
        "webgen.payload_ms": "ms",
        "codec.phash_ms": "ms",
        "fetch.kernel_ms": "ms",
        "fetch.python_run_s": "s",
        "fetch.python_start_s": "s",
        "fetch.arrow_in_bytes_per_url": "bytes",
        "fetch.arrow_out_bytes_per_url": "bytes",
        "engine.seed_s": "s",
        "engine.round_jobs": "count",
        "engine.round_tasks": "count",
        "engine.round_driver_s": "s",
        "engine.core_busy_frac": "ratio",
        "engine.gather_s": "s",
        "engine.crawl_order_s": "s",
        "engine.enqueue_log_s": "s",
        "ranking.dense_seq_s": "s",
        "ranking.dense_seq_jobs": "count",
        "ranking.budget_rank_s": "s",
        "robots.apply_s": "s",
        "seen.antijoin_s": "s",
        "catalog.append_s": "s",
        "catalog.append_rows_s": "s",
        "catalog.adopt_s": "s",
        "catalog.commits": "count",
        "catalog.latest_state_s": "s",
        "catalog.live_files": "count",
        "catalog.compact_s": "s",
        "catalog.bytes_per_payload_byte": "ratio",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.gc_s": "s",
    }
    units.update({f"queries.{n}_s": "s" for n in _registry_names()})
    units.update({
        "queries.jobs": "count",
        "queries.shuffle_bytes": "bytes",
        "queries.input_bytes": "bytes",
        "trace_overhead_frac": "ratio",
    })
    return units


# -- micro-measures of the fetch kernel, from outside the engine ------------


def _per_item_ms(fn, items, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        for it in items:
            fn(it)
        walls.append(time.perf_counter() - t)
    return median(walls) * 1e3 / len(items)


def kernel_micro(seed: int, n: int = 64) -> dict[str, float]:
    """Per-image costs on a fixed set of ``n`` image ids: the simulated
    server's work (pixels + PNG encode), the engine's phash, and the whole
    synthetic fetch function on one pandas batch of leaf rows."""
    import pandas as pd

    from weaver_spark.codec import phash64, png_encode
    from weaver_spark.operators.fetch import make_synthetic_fetch_fn
    from weaver_spark.webgen import gen_pixels

    ids = [f"img_{i:08d}" for i in range(n)]
    pixels = [gen_pixels(i, seed) for i in ids]
    batch = pd.DataFrame({
        "url": [f"http://h0.test/item/{i}" for i in range(n)],
        "enqueue_seq": range(n),
        "host": ["h0.test"] * n,
        "url_type": ["leaf"] * n,
        "depth": [1] * n,
        "page_kind": ["leaf"] * n,
        "page_links": [None] * n,
        "page_image_id": ids,
        "page_fmt": ["png"] * n,
        "page_caption": [f"synthetic caption {i}" for i in range(n)],
    })
    fetch_fn = make_synthetic_fetch_fn(None, seed)
    return {
        "webgen.payload_ms": _per_item_ms(lambda i: png_encode(gen_pixels(i, seed)), ids),
        "codec.phash_ms": _per_item_ms(phash64, pixels),
        "fetch.kernel_ms": _per_item_ms(lambda b: list(fetch_fn(iter([b]))), [batch]) / n,
    }


def _sum_of_best(reps: list[dict[str, dict[str, float]]], kind: str) -> float:
    """Sum over the reads of each read's smallest ``kind`` ("wall" or
    "cpu") across repetitions: other tenants of the host only ever add to
    an operation's cost, so the smallest of several is the least disturbed."""
    return sum(min(r[kind][name] for r in reps) for name in reps[0][kind])


def _set_up(make, reps: int) -> tuple[list, list[float], list[float], list[float]]:
    """Run ``reps`` set-ups; returns them with the wall, the CPU seconds
    (``common.cpu_since``) each took, and the tree's RSS after each. Before
    the clock starts, the previous session is stopped and the JVM's heap
    collected, so no set-up pays for garbage an earlier operation left."""
    setups, walls, cpus, rss = [], [], [], []
    for i in range(reps):
        common.stop_session()
        common.collect_garbage()
        clock = common.start_clock()
        setups.append(make(i))
        wall, cpu = common.stop_clock(clock)
        walls.append(wall)
        cpus.append(cpu)
        rss.append(common.tree_rss_mb())
    return setups, walls, cpus, rss


# -- crawl_deep ----------------------------------------------------------------


def run_crawl(args, ops: OpLog, shape=None, engine_kw=None) -> tuple[dict, dict]:
    from perfbench import crawl

    shape = shape or crawl.FULL
    engine_kw = engine_kw or crawl.FULL_ENGINE
    t = time.perf_counter()
    oracle = crawl.simulate(shape, engine_kw, args.seed)
    oracle_s = time.perf_counter() - t
    t = time.perf_counter()
    st = crawl.CrawlSetup(args.seed, shape, engine_kw, "crawl")
    cold_s = time.perf_counter() - t
    c = crawl.crawl(st, crawl.timed_rounds(args.seconds), ops)
    rss = [common.tree_rss_mb()]
    crawl.check(st, oracle, c["rounds_run"], ops, args.corrupt)
    rd = crawl.reads(st.engine, ops, crawl.READ_REPS)
    if not c["walls"]:
        raise RuntimeError("no timed round completed")
    setups, setup_walls, setup_cpus, setup_rss = _set_up(
        lambda i: crawl.CrawlSetup(args.seed, shape, engine_kw, f"setup{i}"),
        SETUP_REPS["crawl_deep"])
    rss += setup_rss
    e2e = {
        "setup_s": median(setup_cpus),
        "op_cpu_s": geomean(c["cpus"]),
        "op_wall_s": geomean(c["walls"]),
        "read_s": _sum_of_best(rd, "wall"),
    }
    wall = {
        "wall.setup_s": median(setup_walls),
        "wall.throughput_per_s": sum(c["fetched"]) / sum(c["walls"]),
    }
    diag = {
        **wall,
        "oracle_s": oracle_s,
        "cold_setup_s": cold_s,
        "setup_walls": setup_walls,
        "setup_cpus": setup_cpus,
        "session_walls": [s.session_s for s in setups],
        "round_walls": c["walls"],
        "round_cpus": c["cpus"],
        "warm_walls": c["warm_walls"],
        "read_cpu_s": _sum_of_best(rd, "cpu"),
        "rss_mb_max": max(rss),
        "jit_cpu_s": common.jit_cpu_s(),
    }
    if not args.trace:
        return e2e, {"diag": diag}
    traced = _trace_crawl(args, ops, shape, engine_kw)
    traced["untraced_p50"] = median(c["walls"])
    traced["wall"] = wall
    traced["session_s"] = median(diag["session_walls"])
    traced["webgen_s"] = median([s.webgen_s for s in setups])
    return e2e, {"diag": diag, "traced": traced}


def _trace_crawl(args, ops: OpLog, shape: dict, engine_kw: dict) -> dict:
    from pyspark.sql import functions as F

    from perfbench import crawl
    from perfbench.trace import DELTA_METHODS, ENGINE_NAMES, Tracer

    st = crawl.CrawlSetup(args.seed, shape, engine_kw, "traced", common.event_log_conf())
    tracer = Tracer(st.spark)
    tracer.install()
    try:
        c = crawl.crawl(st, crawl.timed_rounds(args.seconds), ops, group=tracer.group)
        rd = crawl.reads(st.engine, ops, 1, group=tracer.group)[0]["wall"]
        with tracer.group("diag"):
            eng = st.engine
            payload_bytes = eng.gather().agg(F.sum(F.length("bytes"))).collect()[0][0] or 1
        live = 0
        for table in (eng.frontier, eng.images, eng.metrics, eng.lineage):
            for _cid, dirs, _meta in table.live_commits():
                live += sum(crawl.table_files(d)[0] for d in dirs)
        images_bytes = crawl.table_files(eng.images.root)[1]
    finally:
        tracer.uninstall()
    n_timed = len(c["walls"])
    timed_groups = {f"round:{i}" for i in range(c["rounds_run"] - n_timed, c["rounds_run"])}
    layers = {layer: tracer.layer_totals(layer, timed_groups)
              for layer in set(ENGINE_NAMES.values()) | set(DELTA_METHODS.values())}
    return {
        "seed_s": c["seed_s"],
        "walls": c["walls"],
        "fetched": c["fetched"],
        "timed_groups": sorted(timed_groups),
        "reads": rd,
        "layers": layers,
        "live_files": live,
        "bytes_per_payload_byte": images_bytes / payload_bytes,
        "micro": kernel_micro(args.seed),
    }


def crawl_layers(traced: dict, groups: dict) -> dict[str, float]:
    from perfbench.trace import GroupStats, rollup

    walls, n = traced["walls"], len(traced["walls"])
    per_round = [rollup(groups, g) for g in traced["timed_groups"]]
    total, dense = GroupStats(), GroupStats()
    for g in per_round:
        total.add(g)
    for g in traced["timed_groups"]:
        dense.add(rollup(groups, f"{g}/ranking.dense_seq"))
    fetched = sum(traced["fetched"]) or 1
    layers = traced["layers"]

    def layer_s(name: str) -> float:
        return layers[name][0] / n

    commits = sum(layers[k][1] for k in ("catalog.append", "catalog.append_rows",
                                         "catalog.adopt", "catalog.compact"))
    out = {
        **traced["wall"],
        "session.start_s": traced["session_s"],
        "webgen.build_s": traced["webgen_s"],
        **traced["micro"],
        "fetch.python_run_s": total.py_run_s / n,
        "fetch.python_start_s": total.py_start_s / n,
        "fetch.arrow_in_bytes_per_url": total.py_sent_bytes / fetched,
        "fetch.arrow_out_bytes_per_url": total.py_returned_bytes / fetched,
        "engine.seed_s": traced["seed_s"],
        "engine.round_jobs": total.jobs / n,
        "engine.round_tasks": total.tasks / n,
        "engine.round_driver_s": median([w - g.busy_s() for w, g in zip(walls, per_round)]),
        "engine.core_busy_frac": total.task_run_s / (sum(walls) * common.CORES),
        "engine.gather_s": traced["reads"]["gather"],
        "engine.crawl_order_s": traced["reads"]["crawl_order"],
        "engine.enqueue_log_s": traced["reads"]["enqueue_log"],
        "ranking.dense_seq_s": layer_s("ranking.dense_seq"),
        "ranking.dense_seq_jobs": dense.jobs / n,
        "ranking.budget_rank_s": layer_s("ranking.budget_rank"),
        "robots.apply_s": layer_s("robots.apply"),
        "seen.antijoin_s": layer_s("seen.antijoin"),
        "catalog.append_s": layer_s("catalog.append"),
        "catalog.append_rows_s": layer_s("catalog.append_rows"),
        "catalog.adopt_s": layer_s("catalog.adopt"),
        "catalog.commits": commits / n,
        "catalog.latest_state_s": layer_s("catalog.latest_state"),
        "catalog.live_files": traced["live_files"],
        "catalog.compact_s": layer_s("catalog.compact"),
        "catalog.bytes_per_payload_byte": traced["bytes_per_payload_byte"],
        "spark.jobs": total.jobs / n,
        "spark.tasks": total.tasks / n,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes / n,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes / n,
        "spark.gc_s": total.gc_s / n,
        "trace_overhead_frac": median(walls) / traced["untraced_p50"] - 1,
    }
    return out


# -- analytics -----------------------------------------------------------------


def run_analytics(args, ops: OpLog, scale: float = 1.0) -> tuple[dict, dict]:
    from perfbench import analytics, tablegen

    data_dir = os.path.join(common.WORK, "tables")
    t = time.perf_counter()
    tablegen.write_tables(data_dir, args.seed, scale)
    tables_s = time.perf_counter() - t
    t = time.perf_counter()
    st = analytics.AnalyticsSetup(data_dir)
    cold_s = time.perf_counter() - t
    t = time.perf_counter()
    analytics.check(st, analytics.TIMED + [analytics.READ_QUERY], ops, args.corrupt)
    check_s = time.perf_counter() - t
    walls, cpus = analytics.timed_passes(
        st, analytics.TIMED, analytics.timed_pass_count(args.seconds), ops)
    rd_walls, rd_cpus = analytics.timed_passes(
        st, [analytics.READ_QUERY], analytics.READ_REPS, ops)
    rss = [common.tree_rss_mb()]
    setups, setup_walls, setup_cpus, setup_rss = _set_up(
        lambda i: analytics.AnalyticsSetup(data_dir), SETUP_REPS["analytics"])
    rss += setup_rss
    # each query's least disturbed pass: other tenants only add cost
    per_query = {n: min(ws) for n, ws in walls.items() if ws}
    per_query_cpu = {n: min(cs) for n, cs in cpus.items() if cs}
    if len(per_query) < len(analytics.TIMED) or not rd_walls[analytics.READ_QUERY]:
        raise RuntimeError("a timed query never completed")
    e2e = {
        "setup_s": median(setup_cpus),
        "op_cpu_s": geomean(list(per_query_cpu.values())),
        "op_wall_s": geomean(list(per_query.values())),
        "read_s": min(rd_walls[analytics.READ_QUERY]),
    }
    wall = {
        "wall.setup_s": median(setup_walls),
        "wall.throughput_per_s": len(per_query) / sum(per_query.values()),
    }
    diag = {
        **wall,
        "tables_s": tables_s,
        "check_s": check_s,
        "cold_setup_s": cold_s,
        "setup_walls": setup_walls,
        "setup_cpus": setup_cpus,
        "session_walls": [s.session_s for s in setups],
        "per_query_s": per_query,
        "per_query_cpu_s": per_query_cpu,
        "pass_cpus": cpus,
        "pass_walls": walls,
        "read_walls": rd_walls[analytics.READ_QUERY],
        "read_cpu_s": min(rd_cpus[analytics.READ_QUERY]),
        "rss_mb_max": max(rss),
        "jit_cpu_s": common.jit_cpu_s(),
    }
    if not args.trace:
        return e2e, {"diag": diag}
    from perfbench.trace import Tracer

    ts = analytics.AnalyticsSetup(data_dir, common.event_log_conf())
    tracer = Tracer(ts.spark)
    traced_walls, _ = analytics.timed_passes(ts, _registry_names(), 1, ops, group=tracer.group)
    traced = {
        "walls": {n: ws[0] for n, ws in traced_walls.items() if ws},
        "untraced": per_query,
        "wall": wall,
        "session_s": median(diag["session_walls"]),
    }
    return e2e, {"diag": diag, "traced": traced}


def analytics_layers(traced: dict, groups: dict) -> dict[str, float]:
    from perfbench.trace import GroupStats, rollup

    total = GroupStats()
    for name in traced["walls"]:
        total.add(rollup(groups, f"query:{name}"))
    ratios = [traced["walls"][n] / u for n, u in traced["untraced"].items() if n in traced["walls"]]
    out = {f"queries.{n}_s": w for n, w in traced["walls"].items()}
    n_ops = len(traced["walls"])
    out.update({
        **traced["wall"],
        "session.start_s": traced["session_s"],
        "queries.jobs": total.jobs,
        "queries.shuffle_bytes": total.shuffle_write_bytes,
        "queries.input_bytes": total.input_bytes,
        "spark.jobs": total.jobs / n_ops,
        "spark.tasks": total.tasks / n_ops,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes / n_ops,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes / n_ops,
        "spark.gc_s": total.gc_s / n_ops,
        "trace_overhead_frac": median(ratios) - 1,
    })
    return out


# -- entry ---------------------------------------------------------------------


def _check_checkout() -> None:
    """Fail fast, before any process starts, when the checkout lacks the
    program or the oracle harness the benchmark measures against."""
    for rel in ("weaver_spark/engine.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(common.ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {common.ROOT}")


def execute(args) -> dict:
    """Run one workload end to end; returns the result object."""
    _check_checkout()
    common.preflight()
    common.configure_env()
    ops = OpLog()
    steal0 = common.steal_seconds()
    t0 = time.perf_counter()
    try:
        runner = run_crawl if args.workload == "crawl_deep" else run_analytics
        e2e, extra = runner(args, ops, **args.shape_kw)
    finally:
        common.shutdown_jvm()
        diag = {"wall_s": time.perf_counter() - t0,
                "steal_s": common.steal_seconds() - steal0}
    diag.update(extra["diag"])
    log("diag " + json.dumps(diag))
    if ops.problems:
        log("failed ops: " + "; ".join(ops.problems[:10]))
    if args.trace:
        from perfbench.trace import latest_event_log, parse_event_log

        groups = parse_event_log(latest_event_log(os.path.join(common.WORK, "events")))
        layer_fn = crawl_layers if args.workload == "crawl_deep" else analytics_layers
        values = layer_fn(extra["traced"], groups)
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    args.corrupt = None
    args.shape_kw = {}
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    result = execute(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
