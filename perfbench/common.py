"""Shared process state for the benchmark: start clock, logging, the run
context (Spark session, tracer, scratch dirs, correctness counters)."""

from __future__ import annotations

import gc
import os
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def call_latency(lat: dict[str, list[float]], cpu: dict[str, list[float]]) -> dict[str, float]:
    """Closed-loop call cost from per-kind samples in seconds: wall time
    (``lat``) and CPU time (``cpu``, see ``Context.cpu_s``).

    ``call_gm_ms`` and ``call_cpu_ms`` are the geometric mean over call
    kinds of each kind's mean: every kind weighs the same however many calls
    it got, no percentile falls on the boundary between two kinds, and the
    few calls a run can afford per kind are all used. ``call_p80_ms`` is the
    80th percentile of all calls' wall time pooled (the tail)."""

    def gm_ms(samples: dict[str, list[float]]) -> float:
        return statistics.geometric_mean([statistics.fmean(xs) * 1000 for xs in samples.values()])

    pooled = [x * 1000 for xs in lat.values() for x in xs]
    return {
        "call_gm_ms": gm_ms(lat),
        "call_cpu_ms": gm_ms(cpu),
        "call_p80_ms": statistics.quantiles(pooled, n=5, method="inclusive")[3],
        "calls": len(pooled),
    }


def _process_tree(root: int) -> dict[int, int]:
    """``root`` and its live descendants, each with its CPU clock ticks:
    user and system time, its own and that of its reaped children."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return out


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs. A worker that exits after the JVM stays
    a zombie until whoever adopted it reaps it, which is not this process
    and, as pid 1 of a container, may be never."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


class Context:
    """One benchmark process: session, tracer, scratch dirs, counters."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.cache = os.path.join(WORK, "cache")
        # a fresh directory even when a killed run with the same pid (as in
        # a new pid namespace) left its own behind
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=WORK)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None

    def start_spark(self, extra_conf: dict[str, str] | None = None):
        # Python workers import the package: they inherit PYTHONPATH from
        # the JVM, which inherits it from this process.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        )
        # ... and run on this interpreter, whatever "python3" is on the PATH
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        # Temp files (native libraries the JVM unpacks, worker scratch) stay
        # in the run's directory too.
        scratch = os.path.join(self.tmp, "tmp")
        os.makedirs(scratch)
        os.environ["TMPDIR"] = scratch
        from knowledge_graph_rag_spark.session import get_spark
        from spans import Tracer

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
            "spark.local.dir": os.path.join(self.tmp, "local"),
            # quoted, for a checkout path with spaces; no hsperfdata in /tmp
            "spark.driver.extraJavaOptions":
                f'-Djava.io.tmpdir="{scratch}" '
                f'-Dderby.system.home="{os.path.join(self.tmp, "derby")}" '
                "-XX:-UsePerfData",
            **(extra_conf or {}),
        }
        if self.trace:
            os.makedirs(os.path.join(self.tmp, "events"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.tmp, "events"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        sc = self.spark.sparkContext
        # Limit-bearing queries end their job early and a straggler task's
        # accumulator update then hits an unregistered SQL metric; the
        # DAGScheduler logs that benign race at ERROR with a stack trace.
        sc.setLogLevel("ERROR")
        jvm = self.spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
        self.tracer = Tracer(sc=sc, enabled=self.trace)
        return self.spark

    def close(self) -> None:
        """Stop the session and wait for the JVM and its Python workers to
        exit; ``SparkSession.stop`` alone leaves the JVM running until this
        process exits."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = _process_tree(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        # the workers leave once the JVM is gone; they are not our children,
        # so wait for them by pid
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(_running(p) for p in tree):
            time.sleep(0.05)

    def settle(self) -> None:
        """Collect garbage here and then in the JVM, so each timed phase
        starts from the same heap state instead of inheriting set-up's
        garbage. Python goes first: collecting a Python DataFrame releases
        the JVM objects Py4J holds for it."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def retained_heap_bytes(self) -> int:
        """Heap that survives full collections. Each collection lets Spark's
        ContextCleaner drop the broadcasts, shuffles and cached blocks of
        the objects it collected, and the next one frees what was dropped.
        How many rounds that takes varies from run to run (a fixed two
        left 153 or 218 MB where more left 88 MB), so collect every half
        second until the heap stops shrinking."""
        self.settle()
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed()
        for _ in range(10):
            time.sleep(0.5)
            self.spark._jvm.java.lang.System.gc()
            last, used = used, mx.getHeapMemoryUsage().getUsed()
            if used > last - 2**20:
                break
        return used

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the driver JVM (in local
        mode that includes every task thread, the planner, GC and JIT) and
        the JVM's descendants (the Python workers), live or reaped."""
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        ticks = _process_tree(jvm)
        t = os.times()
        return sum(ticks.values()) / os.sysconf("SC_CLK_TCK") + t.user + t.system

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness gate; a failed gate fails the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            log(f"CHECK FAILED: {what}")
        return ok

    def _memory_pools(self):
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return list(mf.getMemoryPoolMXBeans())

    def reset_peaks(self) -> None:
        """Start the memory high-water marks afresh: every JVM memory pool's
        peak usage, and this process's peak resident set (writing 5 to
        clear_refs resets VmHWM)."""
        for pool in self._memory_pools():
            pool.resetPeakUsage()
        try:
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # not writable here: the peak then includes set-up
            log("could not reset the Python peak RSS")

    def peak_mem_mb(self) -> dict[str, float]:
        """Peak memory since ``reset_peaks``.

        ``peak_mem_mb`` is the heap the program still holds at the end of
        the timed phase (``retained_heap_bytes``), plus the non-heap pools'
        peak usage, plus this process's peak resident set. The heap's raw
        peak (``jvm_heap_peak_mb``) is mostly the young generation, whose
        size the collector picks and varies with host speed."""
        retained = self.retained_heap_bytes()
        heap = nonheap = 0
        for pool in self._memory_pools():
            used = pool.getPeakUsage().getUsed()
            if pool.getType().toString() == "Heap memory":
                heap += used
            else:
                nonheap += used
        with open("/proc/self/status") as f:
            py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        mb = 1024.0 * 1024.0
        return {
            "peak_mem_mb": (retained + nonheap) / mb + py_kb / 1024.0,
            "jvm_heap_retained_mb": retained / mb,
            "jvm_heap_peak_mb": heap / mb,
            "jvm_nonheap_peak_mb": nonheap / mb,
            "py_peak_rss_mb": py_kb / 1024.0,
        }
