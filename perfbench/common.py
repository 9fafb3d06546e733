"""Process, session and statistics plumbing shared by the workloads.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
the JVM and Python temp dirs, crawl warehouses, generated analytics
tables and the traced run's event log. Spark's local dir is the one the
program's ``session.get_spark`` picks; the benchmark only records which
entries its sessions create there.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4  # local[4], the tier-1 SPARK_GRAFT_CPUS on a 4-core box
# Environment marker of a run started from this checkout. The JVM and the
# Python workers inherit it, so the next run can find, in
# /proc/<pid>/environ, a JVM that outlived its Python driver.
RUN_MARK = f"PERFBENCH_WORK={WORK}".encode()
# Spark local-dir entries the sessions of this run created; the next run
# removes any that a killed JVM left behind.
LOCAL_LEFTOVERS = os.path.join(WORK, "local_dir_entries")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- statistics ------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# -- host state --------------------------------------------------------------


def steal_seconds() -> float:
    """Cumulative host steal time of this VM (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


# comm of the JVM's JIT compiler threads, as /proc truncates it (15 bytes)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pids: list[int]) -> dict[tuple[int, int], int]:
    """utime + stime of every JIT compiler thread of the given processes."""
    out = {}
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
            if comm.startswith(_JIT_THREADS):
                fields = rest.split()
                out[(pid, int(tid))] = int(fields[11]) + int(fields[12])
    return out


def cpu_mark() -> tuple[int, dict[tuple[int, int], int]]:
    """A snapshot for ``cpu_since``."""
    pids = [os.getpid()] + descendants(os.getpid())
    return sum(_cpu_ticks(p) for p in pids), _jit_ticks(pids)


def cpu_since(mark: tuple[int, dict[tuple[int, int], int]]) -> float:
    """CPU seconds used since ``mark`` by this process and all its
    descendants (Python driver, JVM threads, Python workers), less the
    JVM's JIT compiler threads. The compilers run in the background for
    minutes after the JVM starts, and their CPU lands on whichever
    operation is running, not on the code that made them compile. Time
    the hypervisor gives to other guests (steal) is in neither."""
    total0, jit0 = mark
    total1, jit1 = cpu_mark()
    jit = sum(t - jit0.get(k, 0) for k, t in jit1.items())
    return (total1 - total0 - jit) / os.sysconf("SC_CLK_TCK")


def jit_cpu_s() -> float:
    """CPU seconds the JIT compiler threads have used so far."""
    return sum(cpu_mark()[1].values()) / os.sysconf("SC_CLK_TCK")


def start_clock() -> tuple[float, tuple]:
    """Wall and CPU marks for timing one operation."""
    return time.perf_counter(), cpu_mark()


def stop_clock(clock: tuple[float, tuple]) -> tuple[float, float]:
    """(wall seconds, CPU seconds) since ``start_clock``."""
    t, cpu = clock
    return time.perf_counter() - t, cpu_since(cpu)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_mb() -> float:
    """Summed RSS of this process and all its descendants (Python driver,
    JVM, Python workers). Sampled between operations, never during one."""
    me = os.getpid()
    return (_rss_bytes(me) + sum(_rss_bytes(p) for p in descendants(me))) / 2**20


# -- preflight ---------------------------------------------------------------


def _stale_jvms() -> list[int]:
    """Processes, other than this one, that inherited the run marker of
    this checkout: the JVM or Python workers of an earlier run."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if RUN_MARK in env:
            out.append(int(d))
    return out


def _warm_page_cache() -> None:
    """Read the Spark jars, the native libraries of the Python packages
    the run imports, and the repo's sources once, so the clock never
    includes cold disk reads."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    files = glob.glob(os.path.join(spark_home, "jars", "*.jar"))
    for mod in (numpy, pandas, pyarrow):
        base = os.path.dirname(mod.__file__)
        files += glob.glob(os.path.join(base, "**", "*.so*"), recursive=True)
    files += glob.glob(os.path.join(ROOT, "weaver_spark", "**", "*.py"), recursive=True)
    buf = bytearray(1 << 20)
    for path in files:
        with open(path, "rb", buffering=0) as f:
            while f.readinto(buf):
                pass


def preflight() -> None:
    """Bring the host to the same state before every run: no JVM of an
    earlier run alive, none of its Spark local-dir entries or work dir
    left, and the code the run loads already in the page cache."""
    deadline = time.monotonic() + 30
    while _stale_jvms() and time.monotonic() < deadline:
        time.sleep(0.5)
    for pid in _stale_jvms():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if os.path.isfile(LOCAL_LEFTOVERS):
        with open(LOCAL_LEFTOVERS) as f:
            for path in f.read().split():
                shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("jvm_tmp", "py_tmp", "events"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    _warm_page_cache()


def configure_env() -> None:
    """Environment for the driver, the JVM and the Python workers: the
    checkout on the workers' path, the run marker, and the JVM's and
    Python's temp dirs inside the checkout. Spark's local dir and the
    JVM's GC options stay at the program's defaults (``session.get_spark``)."""
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    key, value = RUN_MARK.decode().split("=", 1)
    os.environ[key] = value
    # read by every JVM at launch, next to (not instead of) the program's
    # spark.driver.extraJavaOptions
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK}/jvm_tmp"
    os.environ["TMPDIR"] = os.path.join(WORK, "py_tmp")
    for var in ("WEAVER_TIMING", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_GC_OPTS"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


# -- Spark session lifecycle -----------------------------------------------


def event_log_conf() -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def stop_session() -> None:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def start_session(extra_conf: dict[str, str] | None = None):
    """Build a session through the program's own factory (stop the active
    one first). The first call launches the JVM; later calls start a new
    SparkContext in the same JVM. The local-dir entries the new context
    creates (its block-manager dirs and its files root) are recorded, so
    that the next run can remove them should this run's JVM be killed
    before it cleans up."""
    from pyspark import SparkFiles

    from weaver_spark.session import get_spark

    stop_session()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={"spark.ui.showConsoleProgress": "false", **(extra_conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    block_dirs = spark.sparkContext._jsc.sc().env().blockManager().diskBlockManager().localDirs()
    created = [d.getAbsolutePath() for d in block_dirs]
    created.append(os.path.dirname(SparkFiles.getRootDirectory()))
    with open(LOCAL_LEFTOVERS, "a") as f:
        f.writelines(p + "\n" for p in created)
    return spark


def collect_garbage() -> None:
    """A full collection of the JVM's heap (``System.gc()``), if a JVM runs."""
    from pyspark import SparkContext

    if SparkContext._jvm is not None:
        SparkContext._jvm.System.gc()


def shutdown_jvm(timeout_s: float = 60) -> None:
    """Stop Spark, close the py4j gateway and wait until the JVM and
    every other process this run started has exited."""
    from pyspark import SparkContext

    stop_session()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants(os.getpid()) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class OpLog:
    """Attempted/failed accounting for the run's operations."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
