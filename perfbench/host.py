"""Host-sized Spark session, host record and memory sampling.

Everything the benchmark writes -- Spark scratch, the JVM and Python temp
dirs, the decoded-segment cache (the engine's shm tier), the event log --
lives under one work dir inside the checkout. The engine's default for
the shm tier is /dev/shm (tmpfs); here it sits on the checkout's file
system, since a run writes nothing outside its checkout.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of RAM, 1-8 GiB: the driver holds the lexicon and the
    merged top-k rows, the Python workers hold the decoded segments."""
    return max(1, min(8, mem_total_bytes() // 4 // (1 << 30)))


def start_session(work: str, event_log: bool):
    """local[nproc] session whose scratch dirs all sit under `work`.
    Must run before any other pyspark use in this process: the JVM and
    the local[] Python workers inherit os.environ at launch."""
    for d in ("tmp", "spark-local", "shm", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["QKB_SERVE_SHM_DIR"] = os.path.join(work, "shm")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # local[] workers import the engine from the checkout root
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    from quickb_spark.session import tune_builder

    cpus = nproc()
    b = (
        tune_builder(SparkSession.builder)
        .master(f"local[{cpus}]")
        .appName("quickb_spark-perfbench")
        .config("spark.driver.memory", f"{driver_mem_gb()}g")
        # no hsperfdata file in /tmp: the run writes only under `work`
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(16 << 20))
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError):
            continue
    return out


def descendants(root: int) -> list[int]:
    """Every live process below `root`."""
    children: dict[int, list[int]] = {}
    for pid, pp in _ppids().items():
        children.setdefault(pp, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 30.0) -> list[int]:
    """Stop the Spark JVM this process launched and every process under
    this one (the local[] Python workers), and wait until each has ended.

    SparkSession.stop() leaves the JVM running until the Python process
    exits; it exits when its stdin closes. The Python workers are the
    JVM's children and end with it. Whatever is still alive at `timeout`
    is killed. -> pids that had to be killed."""
    import signal
    import subprocess

    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # a broken gateway: the stdin close below still ends the JVM
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    # anything started after the first scan, or still running
    left = sorted(set(left) | {p for p in descendants(os.getpid()) if _alive(p)})
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for p in left:
        try:
            os.waitpid(p, 0)  # reaps a direct child
        except ChildProcessError:
            # a grandchild: its new parent reaps it
            while _alive(p) and time.monotonic() < deadline:
                time.sleep(0.05)
    return left


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


def _tree_rss_bytes(root: int) -> int:
    """RSS of `root` and all its descendants (JVM, Python workers)."""
    ppid, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        ppid[int(d)] = int(rest[1])
        rss[int(d)] = int(rest[21]) * page
    total = 0
    for pid, r in rss.items():
        p, hops = pid, 0
        while p > 1 and p != root and hops < 64:
            p, hops = ppid.get(p, 0), hops + 1
        if p == root:
            total += r
    return total


class PeakMem:
    """Samples process-tree RSS + shm-dir bytes every `interval` s on a
    daemon thread; `peak_gb()` is the highest sum seen."""

    def __init__(self, shm_dir: str, interval: float = 0.5) -> None:
        self._shm = shm_dir
        self._interval = interval
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        cur = _tree_rss_bytes(os.getpid()) + dir_bytes(self._shm)
        self._peak = max(self._peak, cur)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def peak_gb(self) -> float:
        return self._peak / (1 << 30)


def host_record() -> dict:
    shm = shutil.disk_usage("/dev/shm").free if os.path.isdir("/dev/shm") else 0
    return {
        "nproc": nproc(),
        "mem_total_gb": round(mem_total_bytes() / (1 << 30), 2),
        "shm_free_gb": round(shm / (1 << 30), 2),
        "driver_mem_gb": driver_mem_gb(),
        "loadavg_1m": os.getloadavg()[0],
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
