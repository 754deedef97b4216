"""Pinned run environment: session settings, set-up timing, memory
sampling, and the run metadata (host, load, steal, fixed probes)."""

from __future__ import annotations

import os
import sys
import threading
import time

DRIVER_MEM = "2g"
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def cores() -> int:
    """local[k]: four threads, or fewer on a smaller host."""
    return max(1, min(4, os.cpu_count() or 1))


def pin_process_env(work: str) -> None:
    """Scratch and temp space inside the work dir, before Spark starts."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too): temp files in the work dir,
    # no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the engine package from the checkout
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)


def session_conf(work: str, event_log_dir: str | None = None) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # heap committed up front (-Xms = -Xmx): resident memory then
        # follows the work, not the collector's heap-resizing heuristics
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} "
                                         f"-Dderby.system.home={tmp}",
    }
    if event_log_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(event_log_dir)
        # one plain JSON-lines file (Spark 4 defaults to rolled zstd)
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def start_session(app: str, work: str, event_log_dir: str | None = None):
    """The engine's session factory at the pinned settings, plus the first
    trivial job (a session is ready once it has run one)."""
    from anomaly_detection_spark.session import get_spark

    k = cores()
    spark = get_spark(app, cores=k, shuffle_partitions=k,
                      extra_conf=session_conf(work, event_log_dir))
    spark.range(16).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the driver JVM, and wait until it and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()          # the JVM exits on EOF of its stdin
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(map(_is_running, descendants)):
        time.sleep(0.05)


def _is_running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def seconds_since_process_start() -> float:
    """Wall time since this process was exec'd (CLOCK_BOOTTIME against the
    kernel's start stamp; 10 ms resolution on the start side)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    hz = os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / hz


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out[1:]


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver
    JVM and the Python workers are descendants of the benchmark)."""
    total_pages = 0
    for pid in [root] + _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total_pages += int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return total_pages * PAGE_KB / 1024.0


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def jvm_probe(spark) -> float:
    """Fixed JVM-only job (codegen'd aggregate over 10M generated rows)."""
    t0 = time.perf_counter()
    spark.range(10_000_000).selectExpr(
        "sum(id * id % 7)", "max(hash(id))").collect()
    return time.perf_counter() - t0


def numpy_probe() -> float:
    """Fixed numpy-only work (sort + matmul) with no Spark involved."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((400, 400))
    x = rng.random(2_000_000)
    t0 = time.perf_counter()
    np.sort(x)
    for _ in range(5):
        a = a @ a
        a /= a.max()
    return time.perf_counter() - t0


def metadata(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEM,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
