#!/usr/bin/env python3
"""Self-test of the benchmark at tiny shapes (a few-dozen-URL web, tables
at a tenth of the sf0.01 shape). About five minutes on four cores.

    python3 perfbench/selftest.py

Checks that:
- every end-to-end and per-layer metric prints with its unit;
- a clean run reports ``failed == 0`` on both workloads;
- a dropped gather row, or an altered query row, drives ``failed`` above 0;
- a second seed changes the payload bytes and still passes its checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import crawl, run  # noqa: E402

TINY_CRAWL = {"shape": crawl.TINY, "engine_kw": crawl.TINY_ENGINE}
TINY_TABLES = {"scale": 0.1}


def _case(workload: str, seed: int, trace: int, corrupt: str | None) -> dict:
    args = run.parse_args(["--workload", workload, "--seed", str(seed),
                           "--seconds", "1", "--trace", str(trace)])
    args.corrupt = corrupt
    args.shape_kw = TINY_CRAWL if workload == "crawl_deep" else TINY_TABLES
    return run.execute(args)


def _run(workload: str, seed: int, trace: int, corrupt: str | None = None) -> dict:
    """One case in its own process: a JVM is launched once per process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--case", workload,
           str(seed), str(trace), corrupt or "-"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def _expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def _units_ok(result: dict, units: dict[str, str]) -> bool:
    m = result["metrics"]
    return set(m) == set(units) and all(m[k]["unit"] == u for k, u in units.items())


def main() -> int:
    from weaver_spark.webgen import gen_payload

    failures: list[str] = []
    res = _run("crawl_deep", 1, trace=0)
    _expect(_units_ok(res, run.E2E_UNITS), "crawl_deep prints every end-to-end metric", failures)
    _expect(res["correct"] and res["failed"] == 0, "crawl_deep seed 1 passes its checks", failures)

    res = _run("crawl_deep", 2, trace=1)
    _expect(_units_ok(res, run.per_layer_units()), "crawl_deep traced run prints every per-layer metric", failures)
    _expect(gen_payload("img_00000001", 1)[0] != gen_payload("img_00000001", 2)[0],
            "seed 2 changes the payload bytes", failures)
    _expect(res["correct"] and res["failed"] == 0, "crawl_deep seed 2 passes its checks", failures)

    res = _run("crawl_deep", 1, trace=0, corrupt="gather")
    _expect(res["failed"] > 0 and not res["correct"], "a dropped gather row fails a round", failures)

    res = _run("analytics", 1, trace=1)
    _expect(_units_ok(res, run.per_layer_units()), "analytics traced run prints every per-layer metric", failures)
    _expect(res["correct"] and res["failed"] == 0, "analytics passes its oracle checks", failures)

    res = _run("analytics", 2, trace=0, corrupt="query")
    _expect(_units_ok(res, run.E2E_UNITS), "analytics prints every end-to-end metric", failures)
    _expect(res["failed"] > 0 and not res["correct"], "an altered query row fails its check", failures)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--case"]:
        w, seed, trace, corrupt = sys.argv[2:6]
        res = _case(w, int(seed), int(trace), None if corrupt == "-" else corrupt)
        print(json.dumps(res))
        sys.exit(0)
    sys.exit(main())
