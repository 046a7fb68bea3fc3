"""Spark session lifecycle for the benchmark, fitted to the machine it runs on.

`machine_env` sizes the run from the host (cores from the CPU affinity mask,
JVM heap below physical memory) and keeps every file Spark and its Python
workers write inside the benchmark's work directory. `Engine` starts the
session through the program's own `get_spark`, and stops the Spark context or
the whole JVM, waiting for the JVM to exit. `RssSampler` tracks
the peak resident memory of the JVM and Python-worker process tree.
"""

from __future__ import annotations

import os
import subprocess
import threading

MAX_HEAP_MB = 2048


def machine_env(repo_root: str, work_dir: str) -> dict[str, str]:
    """Environment to set before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(MAX_HEAP_MB, mem_kb // 1024 // 4))
    pythonpath = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        # workers are forked by the JVM and inherit this, whatever their cwd
        "PYTHONPATH": pythonpath,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
    }


class Engine:
    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.event_log_dir = os.path.join(work_dir, "event-log")
        self.spark = None
        for d in ("spark-local", "tmp", "event-log"):
            os.makedirs(os.path.join(work_dir, d), exist_ok=True)

    def _conf(self, event_log: bool) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work_dir, 'tmp')}"
                " -XX:-UsePerfData"
            ),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self, *, event_log: bool = False):
        """Start the Spark session, launching the JVM when none is running."""
        from pathhier_spark.session import get_spark

        self.spark = get_spark("perfbench", extra=self._conf(event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def event_log_path(self) -> str:
        return os.path.join(self.event_log_dir, self.spark.sparkContext.applicationId)

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def stop_jvm(self) -> None:
        """Stop the context and the JVM behind it, and wait for the JVM."""
        from pyspark import SparkContext

        self.stop_context()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def gc_seconds(self) -> float:
        """Total JVM garbage-collection time so far."""
        mgmt = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans()) / 1e3


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        pss = (int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:"))
        return next(pss, 0)  # a zombie has no mappings


def _is_python(pid: int) -> bool:
    return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")


def tree_memory_bytes(root_pid: int) -> int:
    """Resident bytes of the JVM and the Python workers below `root_pid`.

    The direct children of `root_pid` (the JVM) count by RSS. Below them
    only Python processes count, the daemon and the workers it forks, and
    they count by PSS: forked workers share their parent's pages
    copy-on-write, and summing RSS would count those pages once per worker.
    Other processes the JVM starts are skipped; for an instant after it
    spawns one, the child shares the JVM's address space and would count the
    whole heap again. The JVM itself is read by RSS because PSS costs a walk
    of its whole heap on every sample."""
    kids = _children()
    total = 0
    todo = [(pid, True) for pid in kids.get(root_pid, [])]
    while todo:
        pid, top = todo.pop()
        todo.extend((k, False) for k in kids.get(pid, []))
        try:
            if top:
                total += _rss_bytes(pid)
            elif _is_python(pid):
                total += _pss_bytes(pid)
        except OSError:  # the process exited meanwhile
            continue
    return total


class RssSampler:
    """Samples the child process tree's memory on a thread while running."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
