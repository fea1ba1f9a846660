"""Process-level plumbing for one benchmark run: a private work directory
inside the checkout, the Spark session, the peak-RSS sampler, and the
result record every workload fills in."""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, "perfbench", ".work")


@dataclass
class Result:
    """What one workload run produced. ``e2e`` holds the contract metrics
    (name -> (value, unit)); ``detail`` the workload's own named metrics;
    ``layers`` the per-layer metrics of a traced run."""

    attempted: int = 0
    failed: int = 0
    correct: bool = True
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.correct = False
        self.problems.append(msg)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _children(pid: int, parents: dict[int, int]) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parents.items() if pp == p)
    return out


def _parents() -> dict[int, int]:
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def tree_size(root_pid: int) -> int:
    """Number of live processes in the tree rooted at ``root_pid``."""
    return len(_children(root_pid, _parents()))


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants, from
    /proc. PSS splits each shared page among the processes that map it, so
    forked Python workers are not counted once per fork."""
    total = 0
    for pid in _children(root_pid, _parents()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


# seconds between two samples of the process tree's memory
RSS_INTERVAL_S = 0.25


class RssSampler:
    """Samples the process tree's resident memory (as PSS) every
    RSS_INTERVAL_S on a daemon thread; ``peak_mb`` is the largest sum
    seen."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


class Run:
    """One benchmark process: owns the work directory and the session."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.session_start_s = 0.0
        self.rss = RssSampler()

    def dir(self, name: str) -> str:
        """A fresh directory ``name`` under the work directory."""
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p

    def start(self):
        """Create the work directory, point every temporary location at it,
        and start ``local[cpus]`` Spark. Returns the session."""
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # every JVM pyspark launches (the launcher too) keeps its temporary
        # files in the work directory and writes no perf-data file to /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        import tempfile

        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
        os.environ.pop("SPARK_GRAFT_SF_DIR", None)
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        self.rss.start()
        from vstream_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        # first job: JVM class loading and the Python worker pool
        self.spark.range(cpu_count(), numPartitions=cpu_count()).rdd.map(lambda x: x).count()
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def close(self) -> None:
        """Stop every stream, the session and the JVM, wait until no child
        process is left, then delete the work directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                for q in self.spark.streams.active:
                    q.stop()
                gateway = SparkContext._gateway
                proc = getattr(gateway, "proc", None)
                self.spark.stop()
                if gateway is not None:
                    gateway.shutdown()
                if proc is not None:
                    proc.terminate()
                    proc.wait(timeout=60)
        finally:
            self.rss.stop()
            deadline = time.monotonic() + 30
            while time.monotonic() < deadline and tree_size(os.getpid()) > 1:
                time.sleep(0.2)
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass


def dir_bytes(path: str, predicate=None) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if predicate is None or predicate(os.path.join(root, f)):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total
