"""Shared plumbing: checkout-local work dirs, the pinned Spark session,
set-up timing, memory high-water marks and percentiles.

Everything a run writes lives under ``perfbench/.work`` (inputs,
checkpoints, spools, Spark and Python temp files) or
``perfbench/out`` (result and trace artifacts), both inside the
checkout.
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

#: Spark cores for every workload. Pinned rather than taken from
#: ``os.cpu_count()`` so runs compare across hosts, and kept below a
#: 4-core host's count so the out-of-process generator has a core.
CORES = 3


def package_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "event_stream_for_k8s_spark", "daemon.py")
    )


def prepare_env(run_dir: str) -> None:
    """Point every temp-file writer (Python, the JVM, Spark's local
    dirs, the Python workers) into ``run_dir`` and make the package
    importable by Spark's Python workers. Must run before the JVM
    starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def pin_cpus() -> set[int]:
    """Confine this process (and the JVM and workers it starts) to
    ``CORES`` CPUs; returns the CPUs left for the load generator
    (empty when the host has no spare CPU)."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) <= CORES:
        return set()
    os.sched_setaffinity(0, cpus[:CORES])
    return set(cpus[CORES:])


def session_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store so the
        # traced run can attribute them; same value in both modes
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start_session(run_dir: str, cores: int = CORES):
    from event_stream_for_k8s_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=session_conf(run_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # readiness probe: one trivial job through the scheduler
    spark.range(1).count()
    return spark


def timed_setups(run_dir: str, n: int = 5, cores: int = CORES):
    """Start the session ``n`` times (the first launches the JVM, the
    rest restart the SparkContext in it) and return the last session,
    every start's seconds and the JVM-launching first start."""
    times = []
    spark = None
    for i in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(run_dir, cores)
        times.append(time.perf_counter() - t0)
    return spark, times


def fresh_dir(*parts: str) -> str:
    d = os.path.join(*parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(exclude: tuple[int, ...] = ()) -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and every descendant (the JVM, Spark's Python workers),
    except the subtrees rooted at ``exclude`` (the load generator)."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] is ppid; [11..14] utime, stime, cutime, cstime
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in exclude or pid not in stats:
            continue
        total += stats[pid][1]
        stack.extend(kids.get(pid, []))
    return total / _TICK


class CpuSampler:
    """Samples :func:`tree_cpu_s` every ``period`` seconds on a thread,
    so a window whose start is only known afterwards (a generator
    phase) can still be charged its CPU."""

    def __init__(self, exclude: tuple[int, ...] = (), period: float = 0.25):
        import threading

        self.exclude, self.period = exclude, period
        self.samples: list[tuple[float, float]] = []
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="perfbench-cpu")

    def _run(self) -> None:
        while True:
            self.samples.append((time.time(), tree_cpu_s(self.exclude)))
            if self._halt.wait(self.period):
                return

    def start(self) -> "CpuSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._halt.set()
        self._thread.join(timeout=10)
        self.samples.append((time.time(), tree_cpu_s(self.exclude)))

    def at(self, t: float) -> float:
        """CPU seconds at time ``t``, linearly interpolated."""
        import bisect

        ts = [x for x, _ in self.samples]
        i = bisect.bisect_left(ts, t)
        if i <= 0:
            return self.samples[0][1]
        if i >= len(ts):
            return self.samples[-1][1]
        (t0, c0), (t1, c1) = self.samples[i - 1], self.samples[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def pct(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100)."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    if len(v) == 1:
        return float(v[0])
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (k - lo))


def median(values) -> float:
    return float(statistics.median(values))


def stamp(seed: int, workload: str, cores: int = CORES) -> dict:
    """Host and configuration facts recorded with every result."""
    import pyspark

    from event_stream_for_k8s_spark.plans.llm import effective_caps

    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.TimeoutExpired):
        java = "unknown"
    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "master": f"local[{cores}]",
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "effective_caps": effective_caps(),
        "data_cache_prebuilt": os.path.isdir(os.path.join(ROOT, ".data_cache")),
    }
