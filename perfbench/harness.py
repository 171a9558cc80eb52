"""Run plumbing shared by the workloads: the run directory, the Spark
session, set-up repetitions, spans, the environment stamp and the result
line.

Everything a run writes (generated tables, stores, Spark scratch space,
the event log, Python and JVM temp files) lives under
`<checkout>/.bench_run/<workload>-<pid>/` and is removed at exit.
"""

from __future__ import annotations

import json
import os
import platform
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def requested_cores() -> int:
    return len(os.sched_getaffinity(0))


class Spans:
    """Named durations recorded by the traced run's wrappers."""

    def __init__(self) -> None:
        self.ms: dict[str, list[float]] = defaultdict(list)
        self._undo: list = []

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.ms[name].append((time.perf_counter() - t0) * 1000.0)

    def take(self) -> dict[str, float]:
        """{span name: summed ms} recorded since the last take."""
        out = {k: sum(v) for k, v in self.ms.items()}
        self.ms.clear()
        return out

    def wrap(self, owner, attr: str, name: str, on_enter: Optional[Callable] = None,
             on_exit: Optional[Callable] = None) -> None:
        """Replace `owner.attr` with a timed pass-through; `undo_all`
        restores it."""
        inner = getattr(owner, attr)
        spans = self

        def timed(*args, **kwargs):
            if on_enter:
                on_enter()
            try:
                with spans.span(name):
                    return inner(*args, **kwargs)
            finally:
                if on_exit:
                    on_exit()

        had_own = attr in getattr(owner, "__dict__", {})
        self._undo.append((owner, attr, inner if had_own else None))
        setattr(owner, attr, timed)

    def undo_all(self) -> None:
        for owner, attr, inner in reversed(self._undo):
            if inner is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, inner)
        self._undo.clear()


class Run:
    """One benchmark invocation: owns the run directory and the session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 sf: float) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.sf = trace, sf
        self.cores = requested_cores()
        self.dir = os.path.join(ROOT, ".bench_run", f"{workload}-{os.getpid()}")
        self.spark = None
        self.cpus_effective = self.master = None
        self.spans = Spans()
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.loadavg_before = os.getloadavg()
        self.steal_before = _cpu_steal_s()
        self.detail: dict = {}
        self._prepare_environment()

    # -- environment -----------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def _prepare_environment(self) -> None:
        """Pin every scratch location inside the run directory and make
        the checkout importable by Spark's Python workers. Must run
        before the JVM starts."""
        for sub in ("tmp", "local", "events", "warehouse"):
            os.makedirs(self.path(sub), exist_ok=True)
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ["TMPDIR"] = self.path("tmp")
        import tempfile
        tempfile.tempdir = self.path("tmp")
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        conf = {
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("events")
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        # every JVM, spark-submit's launcher included, keeps its files here
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}")
        args = [f"--conf {k}={v}" for k, v in conf.items()]
        # the driver JVM logs every GC: peak_mem_mb reads the heap
        # left after each one
        java_opts = shlex.quote(f"-Xlog:gc:file={self.path('gc.log')}")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            " ".join(args) + f" --driver-java-options {java_opts} pyspark-shell")

    def cleanup(self) -> None:
        """Stop the session and the JVM behind it, wait for the JVM to
        end, and remove the run directory."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.dir))
        except OSError:
            pass

    # -- session ---------------------------------------------------------
    def start_session(self):
        """Fresh session through the program's own factory; refuses to
        go on when Spark's effective parallelism is not the requested
        core count."""
        from maggma_spark.session import get_spark

        self.stop_session()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.session_s.append(time.perf_counter() - t0)
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.cpus_effective, self.master = sc.defaultParallelism, sc.master
        if sc.defaultParallelism != self.cores:
            raise RuntimeError(
                f"cpus_effective={sc.defaultParallelism} differs from the "
                f"requested {self.cores} cores; refusing to report")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def set_up(self, steps: Callable[[], None], times: int = 3) -> None:
        """Run `times` full set-ups, each in a fresh session; setup_s is
        their median. The state of the last one is what the loop uses."""
        reset_peak_rss()
        for _ in range(times):
            t0 = time.perf_counter()
            self.start_session()
            steps()
            self.setup_s.append(time.perf_counter() - t0)

    # -- tracing ---------------------------------------------------------
    def group(self, name: str) -> None:
        """Tag the following Spark jobs (traced runs only)."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def event_log(self) -> dict:
        """Per-group stats of the current session's event log; stops the
        session so the log is complete."""
        from perfbench import eventlog

        app_id = self.spark.sparkContext.applicationId
        self.stop_session()
        events = self.path("events")
        name = next(f for f in os.listdir(events) if f.startswith(app_id))
        return eventlog.parse(os.path.join(events, name))

    # -- measurements ----------------------------------------------------
    def peak_mem_mb(self) -> float:
        """Peak memory the program holds: the driver JVM's largest heap
        left after a GC, plus this Python driver's peak RSS. The JVM's
        RSS is not used because it follows G1's heap sizing, which
        differs from run to run by a quarter or more for the same work;
        it is kept in the detail line."""
        from pyspark import SparkContext

        jvm_kb = 0
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            jvm_kb = _vm_hwm_kb(proc.pid)
        py_kb = _vm_hwm_kb(os.getpid())
        heap_mb = _peak_heap_after_gc_mb(self.path("gc.log"))
        self.detail.update(jvm_rss_mb=jvm_kb / 1024.0, python_rss_mb=py_kb / 1024.0,
                           jvm_heap_after_gc_mb=heap_mb)
        return heap_mb + py_kb / 1024.0

    def env_stamp(self) -> dict:
        import pyspark

        return {
            "workload": self.workload, "seed": self.seed, "sf": self.sf,
            "seconds": self.seconds, "trace": int(self.trace),
            "cpus_effective": self.cpus_effective, "master": self.master,
            "nproc": self.cores,
            "loadavg_before": list(self.loadavg_before),
            "loadavg_after": list(os.getloadavg()),
            # CPU time the hypervisor gave to other guests during the run
            "cpu_steal_s": _cpu_steal_s() - self.steal_before,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS counter, so input generation done
    by the benchmark itself does not count as the program's memory."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


_GC_PAUSE = re.compile(r"Pause (?:Young|Full).*?(\d+)([KMG])->(\d+)([KMG])\(")
_MB = {"K": 1 / 1024.0, "M": 1.0, "G": 1024.0}


def _peak_heap_after_gc_mb(log_path: str) -> float:
    """Largest heap occupancy after a collecting pause (young, mixed or
    full; not the remark and cleanup pauses, which free nothing) in a
    `-Xlog:gc` file, from lines like
    `Pause Young (Normal) (G1 Evacuation Pause) 612M->130M(1024M) 5.1ms`."""
    peak = 0.0
    try:
        with open(log_path) as fh:
            for line in fh:
                m = _GC_PAUSE.search(line)
                if m:
                    peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    except OSError:
        pass
    return peak


def _cpu_steal_s() -> float:
    """Steal time of all CPUs so far, from the `cpu` line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def emit(detail: dict, correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]]) -> None:
    """Print the detail line, then the result line (always last)."""
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
