"""Spark session lifetime, host facts and the /proc memory sampler.

Everything the benchmark starts lives under one run directory inside
the checkout: Spark's local dirs, the JVM temp dir, Python's temp dir
and the event log. ``stop_jvm`` ends the gateway JVM and waits for it,
which also ends the Python worker daemon it owns.
"""

from __future__ import annotations

import os
import platform
import subprocess
import tempfile
import threading
import time
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between two memory samples
RSS_INTERVAL_S = 0.5
#: the JVM's young generation, fixed: G1's adaptive young sizing made
#: the JVM's resident memory swing by up to 0.4 GB between like runs
YOUNG_GEN = "512m"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024**2
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks since boot, from ``/proc/stat``. Time a
    hypervisor gives to other guests is stolen from this one; a run with
    a high stolen share ran on a loaded host."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def driver_heap() -> str:
    """A quarter of the host's RAM, between 1 and 4 GiB: local mode runs
    every task inside the driver JVM, and the host is shared."""
    return f"{max(1, min(4, int(mem_total_gb() // 4)))}g"


def isolate_temp(run_dir: Path) -> None:
    """Point every temp-file user this process starts at ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)


def start_session(run_dir: Path, eventlog_dir: Path | None = None):
    """A ``local[nproc]`` session with ``nproc`` shuffle partitions.

    The first call launches the gateway JVM; after ``spark.stop()`` a
    later call starts a fresh SparkContext (and Python worker daemon) in
    the same JVM. The heap starts small and grows on demand, so resident
    memory follows what the run uses; only the young generation has a
    fixed size."""
    from pyspark.sql import SparkSession

    n = str(nproc())
    for sub in ("local", "tmp", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.driver.memory", driver_heap())
        .config("spark.driver.extraJavaOptions", f"-Xmn{YOUNG_GEN} -Djava.io.tmpdir={run_dir / 'tmp'}")
        .config("spark.local.dir", str(run_dir / "local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.eventLog.enabled", "true" if eventlog_dir else "false")
    )
    if eventlog_dir:
        eventlog_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", eventlog_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def host_facts(spark) -> dict:
    import numpy

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_total_gb(), 1),
        "driver_heap": driver_heap(),
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }


def _tree_rss_bytes(root: int) -> tuple[int, int]:
    """(JVM, Python) resident memory of ``root`` and all its descendants.

    The driver Python (``root``) and the gateway JVM (its child) share
    nothing with the rest of the tree, so their RSS is read from
    ``statm``, an O(1) counter. The Python worker daemon and the workers
    it forks share copy-on-write pages, so deeper processes count their
    proportional share (PSS, ``smaps_rollup``) and each shared page is
    counted once, not once per worker. The JVM is ``root``'s child; the
    driver and the workers count as Python."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    jvm = python = 0
    stack = [(root, 0)]
    while stack:
        pid, depth = stack.pop()
        try:
            if depth < 2:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * PAGE
            else:
                rss = 0
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            rss = int(line.split()[1]) * 1024
                            break
        except OSError:
            rss = 0
        if depth == 1:
            jvm += rss
        else:
            python += rss
        stack.extend((c, depth + 1) for c in children.get(pid, ()))
    return jvm, python


class RssSampler:
    """Peak resident memory of this process tree, summed and per side
    (JVM, Python), sampled every ``RSS_INTERVAL_S``. ``start()`` runs a
    sampling thread; after ``stop()``, a thread that already exists (the
    stream's load generator) keeps sampling through ``sample()``, so a
    run never has more than one helper thread."""

    def __init__(self):
        self.peak_bytes = self.peak_jvm_bytes = self.peak_python_bytes = 0
        self._last = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        """Take a sample unless the last one is under ``RSS_INTERVAL_S`` old."""
        now = time.monotonic()
        if now - self._last >= RSS_INTERVAL_S:
            self._last = now
            jvm, python = _tree_rss_bytes(os.getpid())
            self.peak_bytes = max(self.peak_bytes, jvm + python)
            self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
            self.peak_python_bytes = max(self.peak_python_bytes, python)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._last = 0.0
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1024**2

    def layers(self) -> dict:
        return {
            "jvm.rss_peak_mb": self.peak_jvm_bytes / 1024**2,
            "python.pss_peak_mb": self.peak_python_bytes / 1024**2,
        }


def jvm_heap_peak_mb(spark) -> float:
    """Peak heap the JVM used since it started, summed over its heap
    pools (``MemoryPoolMXBean.getPeakUsage``); read before the stop."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"
    ) / 1024**2


def wait_until(t_wall: float) -> None:
    while True:
        left = t_wall - time.time()
        if left <= 0:
            return
        time.sleep(min(left, 0.05))
