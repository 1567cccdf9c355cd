"""Process environment, Spark session, CPU-steal accounting, memory
sampling and spans.

The benchmark sets its own environment instead of relying on the shell:
- ``PYTHONPATH`` names the checkout root, because Spark's Python workers
  import ``logpump_spark`` and fail with ModuleNotFoundError without it;
- ``TMPDIR``, ``spark.local.dir`` and the JVM's ``java.io.tmpdir`` point
  into the work directory, so a run writes nothing outside its checkout;
- the session gets ``local[nproc]`` and a fixed 3 GB driver, where
  ``session.py`` defaults to ``local[32]`` and 24 GB.
"""

from __future__ import annotations

import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEM = "3g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def start_session(n_cpus: int):
    from logpump_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        "perfbench",
        cpus=n_cpus,
        shuffle_partitions=n_cpus,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # no hsperfdata file in /tmp, which the JVM writes whatever tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(WORK, "ckpt-default"),
        },
    )


def canary(spark) -> float:
    """The fixed ``spark.range`` job: a contention flag, not a target."""
    t0 = time.perf_counter()
    spark.range(2_000_000).selectExpr("sum(id * 7 % 13)").collect()
    return time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python worker daemon it owns) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit means kill
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a descendant whose
    parent exits (the helper shell ``spark-class`` leaves behind the JVM,
    Spark's Python worker daemon) is re-parented here instead of to init,
    so ``end_children`` can wait for it."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for tid in os.listdir(f"/proc/{me}/task"):
        try:
            with open(f"/proc/{me}/task/{tid}/children") as f:
                kids += [int(c) for c in f.read().split()]
        except FileNotFoundError:
            continue
    return kids


def end_children(grace_s: float = 10.0) -> None:
    """Stop every process still below this one and wait for each to end:
    SIGTERM at once, SIGKILL after ``grace_s``, reaping as they exit."""
    deadline = time.monotonic() + grace_s
    termed: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        late = time.monotonic() > deadline
        for pid in _children():
            if late or pid not in termed:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.05)


def quiesce(spark) -> None:
    """Collect garbage in Python and in the driver JVM before a timed
    window, so that a collection owed by earlier work does not land in it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def cpu_ticks() -> tuple[int, int]:
    """(stolen, wanted) CPU ticks of the machine so far, from /proc/stat:
    the ticks the hypervisor gave to other guests, and those plus every
    tick this guest ran (all but idle and iowait)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time this guest wanted between two ``cpu_ticks``
    readings that the hypervisor gave to other guests."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def timed(fn):
    """Run ``fn``; -> (its result, wall seconds, wall seconds net of steal).

    The net time is the wall time times the share of wanted CPU time the
    guest got: an estimate of the wall time on an uncontended machine,
    exact for CPU-bound work.  On a shared host other guests can take a
    third of the CPU, varying by the minute, which swings wall times by
    more than a regression bound; the net time swings much less."""
    s0, t0 = cpu_ticks(), time.perf_counter()
    result = fn()
    wall = time.perf_counter() - t0
    return result, wall, wall * (1 - steal_frac(s0, cpu_ticks()))


def _tree_rss_kb(root: int, skip: set[int]) -> int:
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in skip:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    driver JVM and the Python workers), sampled from /proc every 50 ms.
    ``skip`` holds pids whose subtree is not the system under test (the
    load process)."""

    def __init__(self) -> None:
        self.skip: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.05):
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me, self.skip))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024


class Tracer:
    """Spans recorded from the benchmark's own code, around its calls into
    each layer.  Kept in memory and written out by ``dump`` at exit."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        start = time.time()
        idx = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx] = {
                "name": name, "start": start, "end": time.time(),
                "parent": parent, "run_id": self.run_id,
            }

    def dump(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.spans, f)


class JobCounter:
    """Spark job/stage/task counts for work run under one job group, from
    the public ``statusTracker``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, name: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(name)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si:
                    stages += 1
                    tasks += si.numTasks
        return len(jobs), stages, tasks

    def last_job_id(self) -> int:
        """Id of a marker job run now; job ids are sequential, so the
        difference of two markers counts the jobs run in between."""
        marker = f"marker-{uuid.uuid4().hex}"
        with self.group(marker):
            self.sc.parallelize([0], 1).count()
        return max(self.sc.statusTracker().getJobIdsForGroup(marker))


def repeat_for(seconds: float, op) -> list:
    """Run ``op`` back to back while the next run is expected to end
    within ``seconds`` of the first start (at least once); -> results."""
    results, t0 = [], time.perf_counter()
    while True:
        t1 = time.perf_counter()
        results.append(op(len(results)))
        now = time.perf_counter()
        if now + (now - t1) > t0 + seconds:
            return results


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def pctl(xs, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))] if s else float("nan")
