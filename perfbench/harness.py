"""Pinned Spark session, per-invocation scratch, and host-side probes.

Everything here is fixed by constants, never by a host-capacity probe: the
session is ``local[4]`` with one CPU per task, a fixed shuffle width and a
driver heap sized for a 15 GB host.  All scratch (Spark's local dirs, the
JVM and Python temp dirs, inputs, checkpoints, sinks, tables) lives under
``.perfbench_scratch/<pid>`` in the checkout and is removed on exit.
"""

import hashlib
import os
import shutil
import tempfile
import threading
import time

CORES = 4                 # nproc of the reference host
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"      # 15 GB host shared with the Python workers
SCRATCH_DIR = ".perfbench_scratch"


class Scratch:
    """One invocation's scratch tree; ``close`` removes all of it."""

    def __init__(self, root: str):
        self.base = os.path.join(root, SCRATCH_DIR)
        self.root = os.path.join(self.base, str(os.getpid()))
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def fresh(self, *parts: str) -> str:
        """An empty directory (whatever was there is deleted); Spark
        writers create the leaf themselves, so only the parent exists."""
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass  # another invocation's scratch is still there


def start_session(repo_root: str, scratch: Scratch, cores: int = CORES):
    """The benchmark's own session.  Environment first: the JVM and the
    Python workers inherit it, so workers import the package from the
    checkout and every temp file lands in scratch."""
    local_dir = scratch.path("spark-local")
    tmp_dir = scratch.path("tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + py_path if py_path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local_dir  # overrides spark.local.dir
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = tmp_dir

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.task.cpus", "1")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed-size heap: the JVM's resident size then follows the
        # workload, not when the collector chose to grow the heap
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp_dir}")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", scratch.path("warehouse"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits on EOF of its stdin pipe
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def assert_no_cached_state(spark) -> None:
    """A timed run must not inherit another run's cached frames."""
    if not spark._jsc.getPersistentRDDs().isEmpty():
        raise RuntimeError("persisted RDDs left over from a previous run")
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError("cached tables left over from a previous run")


def drop_cached_state(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def sha256_mb_per_s(megabytes: int = 64) -> float:
    """Single-thread sha256 throughput: a host-speed diagnostic recorded
    beside each run.  Nothing is normalized by it."""
    block = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(megabytes):
        h.update(block)
    return megabytes / (time.perf_counter() - t0)


def _descendants(pid: int):
    """Pids of every live descendant of ``pid`` (the driver JVM and its
    Python workers; the benchmark's own interpreter is not one)."""
    kids = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    todo = list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        yield p


def descendants_memory_mb(pid: int) -> float:
    """Resident memory of the descendants of ``pid``, each counted by its
    proportional set size: pages shared after a fork (the Python workers
    and their daemon, a JVM forking a helper command) count once, not once
    per process."""
    total_kb = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def descendants_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by the descendants of ``pid``."""
    total = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Polls the descendants' resident memory; ``peak_mb`` is the maximum
    since the last ``reset``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            mb = descendants_memory_mb(pid)
            with self._lock:
                self.peak_mb = max(self.peak_mb, mb)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0

    def read(self) -> float:
        with self._lock:
            return self.peak_mb

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
