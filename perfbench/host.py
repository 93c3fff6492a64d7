"""Host-derived Spark session, process-tree RSS sampling and disk sizes.

The session is pinned from what this machine offers, never from the
package's ``SPARK_GRAFT_*`` defaults (those were tuned for a 32-core
host and start a 32 g heap):

* master ``local[nproc]``, nproc from the CPU affinity mask and the
  cgroup CPU quota;
* driver heap capped at a quarter of physical or cgroup memory, at
  most 8 GiB, so the Python workers, the page cache and this process
  keep the rest; the parallel collector with a fixed 1 GiB young
  generation, so the heap's resident size follows the data the
  program keeps;
* ``spark.local.dir`` on disk inside the run's work directory, so
  shuffle files never sit in tmpfs next to the heap.

Everything a run writes (local dir, event log, Java and Python temp
files, warehouse) lives under the work directory it is given.
"""

from __future__ import annotations

import math
import os
import signal
import subprocess
import threading
import time

_GIB = 1 << 30


def _read_int(path: str) -> int | None:
    try:
        with open(path) as f:
            return int(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def host_cpus() -> int:
    """CPUs in the affinity mask, capped by a cgroup CPU quota if set."""
    n = len(os.sched_getaffinity(0))
    try:                                          # cgroup v2
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()[:2]
        quota, period = (None, None) if quota == "max" else (
            int(quota), int(period))
    except OSError:                               # cgroup v1
        quota = _read_int("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
        period = _read_int("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
    if quota and quota > 0 and period:
        n = min(n, max(1, math.ceil(quota / period)))
    return n


def host_memory_bytes() -> int:
    with open("/proc/meminfo") as f:
        total = int(f.readline().split()[1]) * 1024
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        limit = _read_int(path)
        if limit:
            total = min(total, limit)
    return total


def driver_heap_mb(mem_bytes: int) -> int:
    """A quarter of memory in 256 MiB steps, between 1 and 8 GiB."""
    quarter = min(mem_bytes // 4, 8 * _GIB)
    return max(1024, quarter // (256 << 20) * 256)


def start_session(work: str, event_log: bool):
    """Start the pinned session; returns (spark, conf dict)."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    cpus = host_cpus()
    dirs = {name: os.path.join(work, name)
            for name in ("spark-local", "tmp", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # the package only falls back to a tmpfs local dir when this is unset
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # every JVM the launcher starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    heap_mb = driver_heap_mb(host_memory_bytes())
    extra = {
        # A cap only, so the heap grows with what the program holds. The
        # parallel collector with a fixed young generation grows the old
        # generation only as promoted data needs it; G1 sizes the heap
        # from GC-time heuristics, which made the JVM's resident size
        # vary by up to 1.5x between runs of the same input.
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions":
            "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xmn1g",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        extra.update({"spark.eventLog.dir": f"file://{dirs['events']}",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    from jaccard_ml_spark.session import get_spark
    spark = get_spark(master=f"local[{cpus}]", app_name="perfbench",
                      shuffle_partitions=max(cpus, 8), extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    conf = dict(sorted(spark.sparkContext.getConf().getAll()))
    return spark, conf


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and the gateway JVM, then wait until the JVM and every
    process it started (the Python daemon and workers) have exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    started = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while alive := [p for p in started if _running(p)]:
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in "ZX"
    except OSError:
        return False


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


class RssSampler:
    """One thread summing the memory of every process this one started
    (the driver JVM, the Python daemon and its workers).

    ``peak`` is the peak of the summed RSS; ``peak_by_kind`` the peaks of
    the JVM's and of the Python processes' RSS, each taken on its own."""

    def __init__(self, interval: float = 0.1, rescan_every: int = 10):
        self.interval = interval
        self.rescan_every = rescan_every
        self.peak = 0
        self.peak_by_kind: dict[str, int] = {}
        self._pids: list[tuple[int, str]] = []
        self._n = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _kind(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return "jvm" if f.read().strip() == "java" else "python"
        except OSError:
            return "python"

    def _sample(self) -> None:
        # the process tree is re-read every few samples; /proc/<pid>/statm
        # of the known processes every sample
        if self._n % self.rescan_every == 0:
            self._pids = [(p, self._kind(p))
                          for p in _descendants(os.getpid())]
        self._n += 1
        sums = {"jvm": 0, "python": 0}
        for pid, kind in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    sums[kind] += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        self.peak = max(self.peak, sum(sums.values()))
        for k, v in sums.items():
            self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0), v)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(self.interval):
                self._sample()
                time.sleep(self.interval)

    def on(self) -> None:
        self._n = 0
        self._active.set()

    def off(self) -> None:
        self._active.clear()

    def close(self) -> None:
        self._active.clear()
        self._stop.set()
        self._thread.join()


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, regular files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, name))
                files += 1
            except OSError:
                pass
    return size, files
