"""Tracing for the traced run: job groups, layer wrappers, event log.

Three sources, all from the benchmark's side of the program boundary:

- ``Tracer.group`` tags every Spark job a public call launches with a job
  group (``sc.setJobGroup``), so the event log can be cut per call.
- ``Tracer.install`` rebinds the names ``engine.py`` imports from its
  operator modules, and the ``DeltaTable`` methods, with wrappers that
  count calls, sum wall time and re-tag jobs started inside the call with
  a nested group ``<outer>/<layer>``. ``uninstall`` restores them.
  Wrapped functions that only build a lazy plan report plan time; jobs
  they cause later run under the outer group.
- ``parse_event_log`` reads Spark's own uncompressed event log and sums
  job, task, shuffle, GC and Python-worker metrics per job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

GROUP_PROP = "spark.jobGroup.id"

# engine.py's imported operator names -> layer names
ENGINE_NAMES = {
    "dense_seq_numeric": "ranking.dense_seq",
    "budget_rank": "ranking.budget_rank",
    "apply_robots": "robots.apply",
    "antijoin_exact": "seen.antijoin",
    "antijoin_bloom": "seen.antijoin",
}
DELTA_METHODS = {
    "append": "catalog.append",
    "append_rows": "catalog.append_rows",
    "adopt": "catalog.adopt",
    "latest_state": "catalog.latest_state",
    "compact": "catalog.compact",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        # keyed by (top-level job group of the caller, layer)
        self.calls: dict[tuple[str, str], int] = defaultdict(int)
        self.seconds: dict[tuple[str, str], float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_PROP, None)

    def _wrap(self, fn, layer: str):
        sc, calls, seconds = self.sc, self.calls, self.seconds

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            outer = sc.getLocalProperty(GROUP_PROP) or "-"
            key = (outer.split("/", 1)[0], layer)
            sc.setLocalProperty(GROUP_PROP, f"{outer}/{layer}")
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                seconds[key] += time.perf_counter() - t0
                calls[key] += 1
                sc.setLocalProperty(GROUP_PROP, outer)

        return traced

    def _patch(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, layer))

    def install(self) -> None:
        from weaver_spark import engine
        from weaver_spark.catalog import DeltaTable

        for name, layer in ENGINE_NAMES.items():
            self._patch(engine, name, layer)
        for name, layer in DELTA_METHODS.items():
            self._patch(DeltaTable, name, layer)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def layer_totals(self, layer: str, groups: set[str]) -> tuple[float, int]:
        """(seconds, calls) of one layer under the given top-level groups."""
        keys = [(g, layer) for g in groups]
        return sum(self.seconds[k] for k in keys), sum(self.calls[k] for k in keys)


class GroupStats:
    """Event-log totals of one job group (and its nested layer groups)."""

    def __init__(self) -> None:
        self.jobs = 0
        self.tasks = 0
        self.task_run_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_bytes = 0
        self.shuffle_read_bytes = 0
        self.input_bytes = 0
        self.py_run_s = 0.0
        self.py_start_s = 0.0
        self.py_sent_bytes = 0
        self.py_returned_bytes = 0
        self.job_spans: list[tuple[float, float]] = []  # (submit, end) in s

    def busy_s(self) -> float:
        """Wall time covered by at least one running job of the group."""
        total, end = 0.0, float("-inf")
        for s, e in sorted(self.job_spans):
            if s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "job_spans":
                self.job_spans.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


_PY_ACCUMS = {
    "time to run Python workers": ("py_run_s", 1e-3),
    "time to start Python workers": ("py_start_s", 1e-3),
    "data sent to Python workers": ("py_sent_bytes", 1),
    "data returned from Python workers": ("py_returned_bytes", 1),
}


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group totals from one uncompressed Spark event log."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(GROUP_PROP) or "-"
                jid = ev["Job ID"]
                job_group[jid] = g
                job_submit[jid] = ev["Submission Time"] / 1e3
                groups[g].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    groups[job_group[jid]].job_spans.append(
                        (job_submit[jid], ev["Completion Time"] / 1e3)
                    )
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "-")]
                m = ev.get("Task Metrics") or {}
                g.tasks += 1
                g.task_run_s += m.get("Executor Run Time", 0) / 1e3
                g.gc_s += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = groups[stage_group.get(info["Stage ID"], "-")]
                for acc in info.get("Accumulables", []):
                    spec = _PY_ACCUMS.get(acc.get("Name"))
                    if spec is not None:
                        attr, scale = spec
                        setattr(g, attr, getattr(g, attr) + float(acc["Value"]) * scale)
    return dict(groups)


def latest_event_log(events_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(events_dir, "*")) if not p.endswith(".inprogress")]
    if not logs:
        raise FileNotFoundError(f"no finished event log in {events_dir}")
    return max(logs, key=os.path.getmtime)


def rollup(groups: dict[str, GroupStats], prefix: str) -> GroupStats:
    """Sum of every group named ``prefix`` or nested under it."""
    out = GroupStats()
    for name, g in groups.items():
        if name == prefix or name.startswith(prefix + "/"):
            out.add(g)
    return out


