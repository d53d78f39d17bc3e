"""Host fitting and process bookkeeping for the benchmark runner.

Everything here reads ``/proc`` directly (psutil is not a dependency).
"""

from __future__ import annotations

import os
import signal
import threading
import time

# one sample reads smaps_rollup of every process, ~23 ms with the JVM
# (4 cores, 15.7 GB host): once a second keeps that off the op's cores
SAMPLE_S = 1.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024**2
    return 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def fit_env(root: str, work: str, cores: int) -> dict:
    """Set the environment the Spark session and its Python workers start
    from, and return every setting made.

    * ``SPARK_GRAFT_CPUS``: the core count the session runs on.
    * ``SPARK_DRIVER_MEM``: kept when set; otherwise a quarter of the
      host's memory, 2g to 6g. The package default (48g) is sized for a
      32-core host and overcommits a small one that has no swap.
    * ``SPARK_LOCAL_DIRS`` and ``TMPDIR``: inside the work directory;
      ``JAVA_TOOL_OPTIONS`` turns off the JVMs' perf-data file, which
      HotSpot writes under ``/tmp`` whatever the temp dir setting.
    * ``PYTHONPATH``: the checkout root first, so Python workers import
      the package under test.
    """
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    mem = os.environ.get("SPARK_DRIVER_MEM") or f"{max(2, min(6, int(mem_total_gb() // 4)))}g"
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if p
        ),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return env


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
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
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid``: its private pages plus its share
    of each page it shares, so pages the forked Python workers share
    copy-on-write count once over the process tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PssSampler:
    """Proportional set size of this process plus all its descendants
    (the Spark JVM and its Python workers) while the block runs, sampled
    every ``SAMPLE_S`` on a thread: every sample and the peak."""

    def __init__(self):
        self.peak = 0
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        total = sum(pss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)
        self.samples.append(total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 20
        alive = procs
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
