"""Process plumbing shared by the workloads.

* a private work directory inside the checkout for every temp file,
  Spark local dir and catalog the run creates (removed at exit);
* the Spark session lifecycle, including waiting for the JVM and the
  Python worker daemon to exit;
* peak resident memory (PSS) of the whole process tree (this
  interpreter, the JVM, the Python workers), sampled from ``/proc``;
* Spark jobs / stages / tasks per job group, from
  ``SparkContext.statusTracker()``;
* the single-thread md5/s CPU-drift marker that ``bench.py`` records.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
WORK = os.path.join(ROOT, ".bench_work", str(os.getpid()))
DRIVER_MEM = "2g"


def isolate() -> None:
    """Point every temp location at WORK. Must run before
    pyspark is imported so the JVM and workers inherit it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # workers unpickle crawlspark functions and the traced UDF closures
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["CRAWLSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.makedirs(CACHE, exist_ok=True)


def cleanup() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    parent = os.path.dirname(WORK)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark():
    from crawlspark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage of the run queryable for the counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                f"-Dderby.system.home={WORK} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Session:
    """The run's SparkSession and every process it starts. ``start``
    launches the JVM and the SparkSession and starts the memory
    sampler, so the sampler sees nothing of the input generation and
    oracles, which prepare.py ran in a child process before; ``close``
    stops the context, closes the gateway so the JVM exits, and waits
    until every process the run started has ended."""

    def __init__(self):
        self.tree: ProcessTree | None = None
        self.spark = None

    def start(self):
        self.tree = ProcessTree().start()
        self.spark = _start_spark()
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        if self.tree is not None:
            self.tree.wait_gone(timeout=30)


# ---------------------------------------------------------------------------
# process tree: peak memory and shutdown


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it, so the Python workers forked from
    one daemon do not count the pages they share once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _role(pid: int) -> str:
    if pid == os.getpid():
        return "main"
    try:
        with open(f"/proc/{pid}/comm") as f:
            return "jvm" if f.read().strip() == "java" else "workers"
    except OSError:
        return "workers"


class ProcessTree:
    """Samples the summed PSS of this process and all its descendants
    every ``interval`` seconds on a daemon thread; remembers every
    descendant seen so shutdown can wait for orphaned workers too."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _descendants(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def sample(self) -> None:
        pids = self._descendants()
        self.seen.update(pids[1:])
        parts = {"main": 0, "jvm": 0, "workers": 0}
        for p in pids:
            parts[_role(p)] += _pss_bytes(p)
        total = sum(parts.values())
        if total > self.peak:
            self.peak = total
            self.peak_parts = {k: round(v / 2**20) for k, v in parts.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "ProcessTree":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self.sample()

    def wait_gone(self, timeout: float) -> None:
        self.stop()
        self.seen.update(self._descendants()[1:])
        deadline = time.monotonic() + timeout
        live = self._alive()
        while live and time.monotonic() < deadline:
            time.sleep(0.1)
            live = self._alive()
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        for pid in live:
            try:
                os.waitpid(pid, 0)
            except OSError:
                pass
        while self._alive():
            time.sleep(0.05)

    def _alive(self) -> list[int]:
        live = []
        for pid in self.seen:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                live.append(pid)
            else:
                try:  # reap our own zombie children
                    os.waitpid(pid, os.WNOHANG)
                except OSError:
                    pass
        return live


# ---------------------------------------------------------------------------
# Spark work counters


def spark_work(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages and completed tasks of one job group.
    Stages reused from an earlier job (skipped) are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def run_in_group(sc, group: str, fn):
    """(fn(), wall seconds, Spark work) with fn's jobs tagged ``group``."""
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, dt, spark_work(sc, group)


def op_error(where: str, e: Exception) -> str:
    first = (str(e).strip().splitlines() or [""])[0]
    return f"{where}: {type(e).__name__}: {first[:300]}"


def add_work(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in ("jobs", "stages", "tasks")}


# ---------------------------------------------------------------------------
# statistics and the result line


def cpu_marker(sec: float = 0.5) -> int:
    from bench import _cpu_marker

    return _cpu_marker(sec)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def fail_ratio(failed: int, attempted: int) -> float:
    """Rule-of-succession estimate (failed + 1) / (attempted + 2) of
    the per-operation failure probability: never 0, and it rises with
    every failed operation at a fixed operation count."""
    return (failed + 1) / (attempted + 2)


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}
