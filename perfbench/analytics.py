"""The ``analytics`` workload: registry queries over seeded tables.

The tables come from ``tablegen`` (seeded, sf0.01-shaped) and are written
once per run, before any set-up: they are the benchmark's input, not the
program's work. A set-up starts a Spark session through the program's
factory and runs one registry query (``SETUP_QUERY``) to its first
finished job. A timed operation is one registry query written in full to
the ``noop`` sink, so Catalyst cannot prune columns the way ``count()``
lets it; the cache is cleared between queries. One closed-loop client
runs ``TIMED`` in order, in ``timed_pass_count(--seconds)`` whole passes.
The read is the registry's ``gather`` query (``gather_merge``), repeated
``READ_REPS`` times.

Correctness: before timing, each timed query and the read are collected
once and their canonical value hash (``tests/oracle_harness.value_hash``)
is compared with DuckDB running the query's ``oracle_sql`` on the same
parquet.
"""

from __future__ import annotations

import contextlib
import math
import time

from . import common
from .common import OpLog, log

# one query per layer family: joins (q3), windows (sessionize), dedup
# (minhash_lsh_pairs), similarity (embedding_cosine_topk), curation
# (caption_curation_filter). ann_ivf_topk is left out: its knn_ivf
# cosines carry float32-level error and can round differently from the
# DuckDB oracle at the 4th decimal (seed 12: 0.8043 vs 0.8042).
TIMED = [
    "q3_shipping_priority",
    "sessionize",
    "minhash_lsh_pairs",
    "embedding_cosine_topk",
    "caption_curation_filter",
]
READ_QUERY = "gather_merge"
SETUP_QUERY = "lang_stats"
READ_REPS = 7
PASS_SECONDS = 2.5  # --seconds per timed pass (a pass takes about 4 s)


class AnalyticsSetup:
    """One set-up: a session and the first registry query run in it."""

    def __init__(self, data_dir: str, extra_conf: dict | None = None):
        t0 = time.perf_counter()
        self.spark = common.start_session(extra_conf)
        self.session_s = time.perf_counter() - t0
        self.data_dir = data_dir
        run_query(self.spark, SETUP_QUERY, data_dir)


def run_query(spark, name: str, data_dir: str) -> None:
    from weaver_spark.queries import REGISTRY

    fn, _sql = REGISTRY[name]
    fn(spark, data_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()


def check(setup: AnalyticsSetup, names: list[str], ops: OpLog,
          corrupt: str | None = None) -> None:
    from tests.oracle_harness import duckdb_run, value_hash
    from weaver_spark.queries import REGISTRY

    for name in names:
        fn, sql = REGISTRY[name]
        try:
            df = fn(setup.spark, setup.data_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            setup.spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            log(f"{name} raised {type(e).__name__}: {e}")
            ops.record(False, f"{name} raised")
            continue
        if corrupt == "query" and name == names[0] and rows:
            rows[0] = (None,) + rows[0][1:]
        d_cols, d_rows = duckdb_run(sql, setup.data_dir)
        ok = sorted(cols) == sorted(d_cols) and value_hash(cols, rows) == value_hash(d_cols, d_rows)
        ops.record(ok, f"{name} differs from its DuckDB oracle")


def timed_passes(setup: AnalyticsSetup, names: list[str], passes: int,
                 ops: OpLog, group=None) -> tuple[dict[str, list[float]], dict[str, list[float]]]:
    """Run ``names`` in order, ``passes`` times; (walls, CPU seconds) per query."""
    group = group or (lambda name: contextlib.nullcontext())
    walls: dict[str, list[float]] = {n: [] for n in names}
    cpus: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(passes):
        for name in names:
            clock = common.start_clock()
            try:
                with group(f"query:{name}"):
                    run_query(setup.spark, name, setup.data_dir)
                ok = True
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                log(f"{name} raised {type(e).__name__}: {e}")
                ok = False
            if ok:
                wall, cpu = common.stop_clock(clock)
                walls[name].append(wall)
                cpus[name].append(cpu)
            ops.record(ok, f"{name} raised")
    return walls, cpus


def timed_pass_count(seconds: float) -> int:
    """Passes a run times: one per ``PASS_SECONDS`` of ``seconds``; like
    the crawl's rounds, a function of ``seconds`` alone."""
    return max(1, math.ceil(seconds / PASS_SECONDS))
