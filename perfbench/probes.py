"""Measurement probes: process-tree CPU and RSS from /proc, the run
environment record, tail-percentile choice, and per-phase diffs of Spark's
REST stage metrics and SQL metrics."""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys
import threading
import time
import urllib.request

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------- process tree

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """`root` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, frontier = [root], [root]
    while frontier:
        frontier = [c for p in frontier for c in children.get(p, [])]
        out.extend(frontier)
    return out


def tree_cpu_split(root: int) -> dict:
    """CPU seconds of the tree, split into the JVM's share and everything
    else (this process and the Python workers): user + system of every live
    process plus its reaped children (cutime/cstime), so a worker that
    exits mid-pass still counts once, through its parent."""
    out = {"jvm": 0, "python": 0}
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    java = f.read().startswith("java")
            except OSError:
                continue
            out["jvm" if java else "python"] += sum(int(v)
                                                    for v in st[11:15])
    return {k: v / _CLK for k, v in out.items()}


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """(RSS of the whole tree, RSS of the Python workers): the second sums
    the descendants whose command is a Python interpreter, which leaves
    out this process and the JVM."""
    total = workers = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read()
        except (OSError, IndexError, ValueError):
            continue
        total += rss
        if pid != root and comm.startswith("python"):
            workers += rss
    return total, workers


class RssPeak:
    """Samples the tree's RSS every `interval` seconds on a thread while
    active; `peak` and `worker_peak` are the largest sums seen (see
    tree_rss_bytes)."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peak = self.worker_peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        total, workers = tree_rss_bytes(self.root)
        self.peak = max(self.peak, total)
        self.worker_peak = max(self.worker_peak, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ------------------------------------------------------------ host speed

HOST_PROBE_LOOPS = 750_000
HOST_PROBE_MEM_LOOPS = 200_000
HOST_PROBE_MEM_BYTES = 64 << 20
# host_probe's wall and CPU time per child on a 4-vCPU VM of a shared host
# when co-tenants are quiet. A run's ref_* metrics are scaled to them.
HOST_REF_WALL_S = 0.2
HOST_REF_CPU_S = 0.17


def _spin(loops: int, mem_loops: int, buf: bytes) -> int:
    """Integer arithmetic, then reads scattered over `buf` (mostly cache
    misses): the program's passes are partly compute-bound and partly
    memory-bound, and co-tenants slow the two differently."""
    s = 0
    for i in range(loops):
        s += i * i
    mask = len(buf) - 1
    for i in range(mem_loops):
        s += buf[(i * 2654435761) & mask]
    return s


def host_probe(nproc: int, loops: int = HOST_PROBE_LOOPS,
               mem_loops: int = HOST_PROBE_MEM_LOOPS) -> tuple:
    """(wall s, mean CPU s per child) of `nproc` forked children that each
    run the same fixed pure-Python work: how fast this host runs a fixed
    amount of work on all cores right now. The program is idle while it
    runs. On a shared host the CPU time of the same work moves with the
    co-tenants' load (up to ~1.5x over minutes on a 4-vCPU VM), and the
    program's CPU time and pass wall move with it."""
    # written, not zero-filled, so every page is real memory; the children
    # only read it, so fork shares it without copying
    buf = bytes(range(256)) * (HOST_PROBE_MEM_BYTES // 256)
    t0 = time.perf_counter()
    pids = []
    for _ in range(nproc):
        # The child only runs bytecode on ints and exits without cleanup,
        # so no lock another thread of this process held at fork matters.
        pid = os.fork()
        if pid == 0:
            try:
                _spin(loops, mem_loops, buf)
            finally:
                os._exit(0)
        pids.append(pid)
    cpu = 0.0
    for pid in pids:
        ru = os.wait4(pid, 0)[2]
        cpu += ru.ru_utime + ru.ru_stime
    return time.perf_counter() - t0, cpu / nproc


# ------------------------------------------------------------ statistics

def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


TAIL_CANDIDATES = (50, 90, 95, 99, 99.9, 99.99)


def tail_percentile(n: int, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least ten of `n` samples
    ranked above it (nearest-rank), or None when even the median has
    fewer than ten beyond it."""
    best = None
    for p in candidates:
        if n - math.ceil(n * p / 100 - 1e-9) >= 10:
            best = p
    return best


def percentile(xs, p: float):
    s = sorted(xs)
    return s[max(0, math.ceil(len(s) * p / 100 - 1e-9) - 1)]


# ------------------------------------------------------------ environment

def env_record(root: str, spark=None) -> dict:
    """nproc, SPARK_GRAFT_CPUS, versions, git commit and co-tenant Spark
    JVMs (tools/quietbox.other_spark_jvms, which skips our own tree)."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    from tools.quietbox import other_spark_jvms

    others = other_spark_jvms()
    rec = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "git_commit": commit,
        "cotenant_spark_jvms": len(others),
        "cotenant_detail": others[:4],
    }
    if spark is not None:
        rec["java"] = spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version")
    return rec


# ----------------------------------------------------- Spark REST metrics

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(value: str) -> float | None:
    """A Spark SQL metric string ("1.5 MiB", "total (min, med, max ...)\\n
    12.3 s (...)", "4,096") as a number in bytes or seconds (times) or a
    plain count."""
    m = _TOTAL_RE.match(value)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        return None
    return num * _UNITS.get(unit, 1.0)


SQL_METRICS = {
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}


def diff_stage_metrics(before: set, stages: list[dict],
                       tasks: dict) -> dict:
    """Sum stage metrics over stages not in `before` (keys are
    (stageId, attemptId)); task durations come from `tasks` keyed the
    same way. Stages that ran before the phase are never counted."""
    new = [s for s in stages
           if (s["stageId"], s["attemptId"]) not in before]
    durs = sorted(d for s in new
                  for d in tasks.get((s["stageId"], s["attemptId"]), []))
    run_ms = sum(s.get("executorRunTime", 0) for s in new)
    cpu_ns = sum(s.get("executorCpuTime", 0) for s in new)
    return {
        "stages": len(new),
        "tasks": len(durs),
        "task_p50_s": percentile(durs, 50) / 1e3 if durs else 0.0,
        "task_max_s": durs[-1] / 1e3 if durs else 0.0,
        "cpu_frac": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in new) / 1e3,
        "spill_bytes": sum(s.get("memoryBytesSpilled", 0)
                           + s.get("diskBytesSpilled", 0) for s in new),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0)
                                   for s in new),
    }


def diff_sql_metrics(before: set, executions: list[dict]) -> dict:
    """Sum the Python-boundary SQL metrics over executions not in
    `before`."""
    out = {k: 0.0 for k in SQL_METRICS.values()}
    for ex in executions:
        if ex["id"] in before:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = SQL_METRICS.get(m.get("name"))
                if key:
                    v = parse_metric(m.get("value", ""))
                    out[key] += v or 0.0
    return out


class SparkRest:
    """Reads the live application's REST API on localhost and diffs it per
    phase: `mark()` before a phase, `since(mark)` after it."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _settled(self, timeout: float = 20.0):
        """Stages and SQL executions once the listener has caught up:
        nothing active or pending, every execution completed."""
        deadline = time.monotonic() + timeout
        while True:
            stages = self._get("stages")
            execs = self._get("sql?details=true&planDescription=false"
                              "&offset=0&length=100000")
            busy = any(s["status"] in ("ACTIVE", "PENDING") for s in stages)
            busy |= any(e.get("status") == "RUNNING" for e in execs)
            if not busy or time.monotonic() > deadline:
                return stages, execs
            time.sleep(0.1)

    def mark(self):
        stages, execs = self._settled()
        return ({(s["stageId"], s["attemptId"]) for s in stages},
                {e["id"] for e in execs})

    def since(self, mark) -> dict:
        stages, execs = self._settled()
        tasks = {}
        for s in stages:
            key = (s["stageId"], s["attemptId"])
            if key in mark[0]:
                continue
            tl = self._get(f"stages/{key[0]}/{key[1]}/taskList"
                           "?offset=0&length=1000000")
            tasks[key] = [t["duration"] for t in tl if "duration" in t]
        return {**diff_stage_metrics(mark[0], stages, tasks),
                **diff_sql_metrics(mark[1], execs)}
