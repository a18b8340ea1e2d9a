"""Pinned session settings, the host probe, process housekeeping and
the warm-up rule shared by the benchmark's generator, harness and
self-test.

Everything the benchmark reads or writes lives under the checkout: the
per-seed input cache and per-run scratch go to `.perfbench_work/`, and
Spark's local dirs, the JVM's temp dir and Python's temp dir are
pointed there before the session starts.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# Pinned session shape, written into every result. Each PIP task keeps
# a JVM thread and a Python worker busy, so local[2] already fills a
# 4-vCPU host (it matched local[3] on the 5M-page op) without
# oversubscribing it; k < nproc in any case.
CORES = max(1, min(2, (os.cpu_count() or 2) - 1))
DRIVER_MEM = "4g"
SHUFFLE_PARTITIONS = 8

# Warm-up stops once two consecutive ops agree within SETTLE_TOL (and
# after at least WARMUP_MIN ops); WARMUP_MAX bounds a host that never
# settles.
WARMUP_MIN, WARMUP_MAX, SETTLE_TOL = 2, 4, 0.15
# set-up is repeated this many times per run and its median reported
SETUP_REPEATS = 3


def settings() -> dict:
    return {
        "master": f"local[{CORES}]",
        "driver_memory": DRIVER_MEM,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "nproc": os.cpu_count(),
    }


def pin_environment() -> None:
    """Point every temp/scratch location of the Python driver, the JVM
    and Spark into the checkout, and pin the driver heap through the
    env knob `get_spark` reads. Must run before pyspark starts a JVM."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the Python workers inherit this: the same hash seed, so the same
    # dict and set layouts, in every run
    os.environ["PYTHONHASHSEED"] = "0"
    # every JVM, including spark-submit's launcher, keeps off /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def start_session(app_name: str):
    """The benchmark's SparkSession, built through the engine's own
    `get_spark` (looked up on the package at call time so the tracer's
    wrapper sees it)."""
    import gdal_vfr_spark

    return gdal_vfr_spark.get_spark(
        app_name,
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the whole heap from the start, so how far the collector
            # grows it does not differ from run to run
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_probe(spark, reps: int = 3) -> float:
    """Fixed calibration job at the session's parallelism: the median of
    `reps` runs of a 60M-row hash-sum. Reported with every run so sets
    taken in different host-speed phases can be told apart."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 60_000_000, 1, CORES).selectExpr("sum(hash(id))").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class TreeRSSSampler:
    """Peak resident set size of this process plus all its descendants
    (the Python driver, the JVM and the Python workers the JVM forks),
    sampled from /proc on a background thread. `peak_bytes` covers the
    whole tree; `py_peak_bytes` only its Python processes, whose size
    does not hinge on how far the JVM's collector let its heap grow."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.py_peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "TreeRSSSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # field 4 (ppid) follows the parenthesised command name
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total = py = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    is_py = f.read().startswith("python")
            except OSError:
                continue
            total += rss
            py += rss if is_py else 0
        self.peak_bytes = max(self.peak_bytes, total)
        self.py_peak_bytes = max(self.py_peak_bytes, py)


def warm_up(op) -> list[float]:
    """Run `op()` until two consecutive op times agree within
    SETTLE_TOL (at least WARMUP_MIN, at most WARMUP_MAX ops). Returns
    the warm-up op times."""
    times: list[float] = []
    while len(times) < WARMUP_MAX:
        t0 = time.perf_counter()
        op()
        times.append(time.perf_counter() - t0)
        if len(times) >= WARMUP_MIN and abs(times[-1] - times[-2]) <= SETTLE_TOL * times[-2]:
            break
    return times


def warm_up_excess(warm: list[float], steady_p50: float) -> float:
    """What warming up cost beyond steady-state work: the warm-up op
    times above the measured ops' median. Unlike the warm-up's total
    time it does not jump by a whole op when the settle rule happens to
    need one op more."""
    return sum(max(0.0, t - steady_p50) for t in warm)
