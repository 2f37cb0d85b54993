"""Run environment, tracing and statistics shared by the workloads.

Everything here is benchmark scaffolding: it never changes the program,
only how the program is started and observed.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Scratch space for one run (cwd, temp files, Derby, topic logs, Spark
# local dirs) and where traced runs leave their span files.  Both sit in
# the checkout and are ignored by git.
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(REPO_ROOT, ".perfbench_out")

# Embedded Derby stands in for ClickHouse.  ``test`` durability skips the
# log fsync on commit, which is ClickHouse's own default
# (fsync_after_insert=0).  Two runs are only comparable when they use the
# same setting.
DERBY_DURABILITY = "test"


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """Driver heap sized to the host: a quarter of RAM, 2-8 GiB.

    The session factory's own default (48g) assumes a large box; local
    mode runs every task thread inside this one JVM, so the heap is the
    whole engine's memory."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return max(2048, min(8192, total_kb // 4 // 1024))


def prepare_env(work: str) -> None:
    """Point every path the engine writes to into ``work`` and export the
    settings the session factory and its Python workers read.  Must run
    before the package (and pyspark's JVM) is imported or started."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(host_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
            "SPARK_GRAFT_CACHE_DIR": os.path.join(work, "scan_cache"),
            # Python workers (kafkasim readers) import the package by name
            "PYTHONPATH": REPO_ROOT + (os.pathsep + pythonpath if pythonpath else ""),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark_local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": " ".join(
                [
                    f"-Djava.io.tmpdir={tmp}",
                    f"-Dderby.system.home={os.path.join(work, 'derby')}",
                    f"-Dderby.system.durability={DERBY_DURABILITY}",
                ]
            ),
            "TZ": "UTC",
        }
    )
    time.tzset()
    os.chdir(work)
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def start_session(app: str):
    """Session from the program's own factory, quiet and without a UI."""
    from clickhouse_sinker_nali_spark.session import get_spark

    spark = get_spark(
        app_name=app,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # progress history deep enough for every batch of a run
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, read from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM to exit.

    The JVM exits when its stdin closes; waiting on it guarantees no
    process this run started outlives it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def host_probe() -> dict:
    """Fixed single-core Python work plus the load average: context for
    telling a noisy shared-host window from a real change, never gated."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1000003
    return {
        "py_loop_s": round(time.perf_counter() - t0, 4),
        "load_avg": [round(x, 2) for x in os.getloadavg()],
    }


def cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters (user nice system idle iowait irq
    softirq steal ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    high values mark a contended window."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    k = max(0, min(len(xs) - 1, -(-len(xs) * q // 100) - 1))
    return float(xs[int(k)])


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls
    into the program's layers; written out once when the run ends.

    Disabled tracers cost one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "thread": threading.current_thread().name,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Result:
    """What a workload hands back to the runner."""

    def __init__(self) -> None:
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, object] = {}

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)
