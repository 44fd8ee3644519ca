"""Host-portable Spark session for the benchmark.

The session runs on ``local[nproc]``, sizes the driver heap from
``/proc/meminfo``, keeps off-heap memory off unless it fits, exports
``PYTHONPATH`` so the Python workers can import the package, and keeps
every scratch file (Spark local dirs, JVM temp, warehouse, inputs and
outputs) in one directory inside the checkout that is removed on exit.
Closing the session stops the JVM and waits for it and its Python workers
to exit.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import time

HEAP_MIN_MB = 1024
HEAP_MAX_MB = 4096
WORKER_MB = 512  # resident budget per Python worker
OFFHEAP_MB = 8192  # the frozen bench.py size, enabled only where it fits


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def read_meminfo(path: str = "/proc/meminfo") -> dict[str, int]:
    """``/proc/meminfo`` as {field: kB}."""
    out = {}
    with open(path) as f:
        for line in f:
            key, _, rest = line.partition(":")
            parts = rest.split()
            if parts and parts[0].isdigit():
                out[key] = int(parts[0])
    return out


def memory_plan(meminfo_kb: dict[str, int], cpus: int) -> tuple[int, int]:
    """(driver heap MB, off-heap MB).  The heap is an eighth of physical
    memory, clamped to [1, 4] GiB; off-heap stays 0 unless the memory
    still available after the heap and one worker per slot holds twice
    its size."""
    total_mb = meminfo_kb["MemTotal"] // 1024
    avail_mb = meminfo_kb.get("MemAvailable", meminfo_kb["MemTotal"]) // 1024
    heap = max(HEAP_MIN_MB, min(HEAP_MAX_MB, total_mb // 8))
    spare = avail_mb - heap - cpus * WORKER_MB
    offheap = OFFHEAP_MB if spare >= 2 * OFFHEAP_MB else 0
    return heap, offheap


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after ')' are fixed
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (one scan of /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            parent = _ppid(int(name))
            if parent is not None:
                children.setdefault(parent, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class BenchSession:
    """Context manager owning the SparkSession, its JVM and the scratch
    directory.  ``start_s`` is the session start time in seconds."""

    def __init__(self, root: str):
        self.root = root
        self.cpus = host_cpus()
        self.heap_mb, self.offheap_mb = memory_plan(read_meminfo(), self.cpus)
        self.spark = None
        self.start_s = 0.0
        self._proc = None
        parent = os.path.join(root, ".perfbench_scratch")
        os.makedirs(parent, exist_ok=True)
        self.scratch = tempfile.mkdtemp(prefix="run-", dir=parent)

    def path(self, name: str) -> str:
        return os.path.join(self.scratch, name)

    def __enter__(self) -> "BenchSession":
        tmp = self.path("tmp")
        os.makedirs(tmp)
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = self.root + (os.pathsep + pp if pp else "")
        os.environ["TMPDIR"] = tmp  # Python workers inherit it via the JVM
        # the environment variable would override spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        t0 = time.perf_counter()
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{self.cpus}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{self.heap_mb}m")
            .config("spark.driver.extraJavaOptions",
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", self.path("local"))
            .config("spark.sql.warehouse.dir", self.path("warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(self.cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.files.maxPartitionBytes", str(512 * 1024))
            .config("spark.sql.session.timeZone", "UTC")
        )
        if self.offheap_mb:
            b = (
                b.config("spark.memory.offHeap.enabled", "true")
                .config("spark.memory.offHeap.size", f"{self.offheap_mb}m")
                .config("spark.sql.columnVector.offheap.enabled", "true")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self._proc = self.spark.sparkContext._gateway.proc
        return self

    def engine_cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM and its Python workers
        (user + system, including reaped children)."""
        if self._proc is None:
            return 0.0
        total = 0
        for pid in [self._proc.pid, *descendants(self._proc.pid)]:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited between the scan and the read
            total += sum(int(x) for x in fields[11:15])
        return total / os.sysconf("SC_CLK_TCK")

    def jvm_gc_s(self) -> float:
        """Cumulative GC time of the driver JVM (which runs the tasks)."""
        beans = self.spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3

    def peak_rss_mb(self) -> float:
        """Sum of peak RSS (VmHWM) over the driver JVM and its Python
        workers."""
        if self._proc is None:
            return 0.0
        pids = [self._proc.pid, *descendants(self._proc.pid)]
        return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0

    def __exit__(self, *exc) -> None:
        try:
            if self.spark is not None:
                self._stop_spark()
        finally:
            shutil.rmtree(self.scratch, ignore_errors=True)
            parent = os.path.dirname(self.scratch)
            if not os.listdir(parent):
                os.rmdir(parent)

    def _stop_spark(self) -> None:
        from pyspark import SparkContext

        proc = self._proc
        workers = descendants(proc.pid) if proc else []
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}"):
                if time.monotonic() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                    break
                time.sleep(0.05)
