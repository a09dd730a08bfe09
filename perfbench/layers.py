"""Measurement helpers that sit outside the program: Spark job counting,
the event-log reader, cached-RDD accounting, the CPU window probe and
the wait for every process a run started."""

from __future__ import annotations

import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100 * len(s)) - 1)])


class JobCounter:
    """Counts the Spark jobs and tasks that calls made inside ``span`` on
    the calling thread submitted, through the status tracker. Each span
    gets its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        out = {"jobs": 0, "tasks": 0}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    tasks += stage.numTasks if stage else 0
            out["jobs"], out["tasks"] = len(jobs), tasks


def spark_totals(eventlog_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Task CPU seconds, shuffle bytes written and bytes spilled by the
    jobs submitted inside ``windows`` (epoch seconds), read from Spark's
    event log. Call after the session stopped, so the log is flushed."""
    job_of_stage: dict[int, int] = {}
    in_window: set[int] = set()
    tasks = []
    for name in os.listdir(eventlog_dir):
        with open(os.path.join(eventlog_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000.0
                    for sid in ev["Stage IDs"]:
                        job_of_stage[sid] = ev["Job ID"]
                    if any(a <= t <= b for a, b in windows):
                        in_window.add(ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    cpu_ns = shuffle = spill = 0
    for sid, m in tasks:
        if job_of_stage.get(sid) not in in_window:
            continue
        cpu_ns += m.get("Executor CPU Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "spark.task_cpu_s": cpu_ns / 1e9,
        "spark.shuffle_write_bytes": shuffle,
        "spark.spill_bytes": spill,
    }


def persisted_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def release_new_rdds(spark, keep: set[int]) -> int:
    """Unpersist every persisted RDD whose id is not in ``keep``; returns
    how many there were (what the last call left cached)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = [int(k) for k in rdds.keySet() if int(k) not in keep]
    for k in leaked:
        rdds.get(k).unpersist(True)
    return len(leaked)


def _spin(seconds: float) -> int:
    """Register-resident integer loop; returns rounds completed."""
    end = time.perf_counter() + seconds
    n, x = 0, 12345
    while time.perf_counter() < end:
        for _ in range(10000):
            x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n


def cpu_probe(nproc: int, seconds: float = 0.2) -> float:
    """CPU-scaling efficiency of ``nproc`` processes spinning at the same
    time against this process spinning alone. About 1.0 on a quiet host;
    well below it when other tenants steal CPU. Context for comparing two
    sets of runs, not a metric."""
    one = _spin(seconds)
    start = time.time() + 0.3  # every spinner is up by then
    procs = [
        subprocess.Popen(
            [sys.executable, __file__, str(start), str(seconds)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(nproc)
    ]
    many = [int(p.communicate(timeout=60)[0]) for p in procs]
    return round(sum(many) / (nproc * one), 3)


# ------------------------------------------------------------ processes


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: Spark's
    Python workers, forked by the JVM, outlive it by a moment and would
    otherwise be handed to init, out of reach of ``end_children``."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def child_pids() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(name))
    return out


def end_children(grace: float = 30.0) -> None:
    """Wait until every child of this process has ended and been reaped:
    ``grace`` seconds for them to exit on their own, then SIGTERM, then
    SIGKILL every 5 s."""
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5, signal.SIGKILL
        time.sleep(0.05)


if __name__ == "__main__":
    # one spinner of cpu_probe: wait for the common start, spin, print rounds
    start, seconds = map(float, sys.argv[1:3])
    time.sleep(max(0.0, start - time.time()))
    print(_spin(seconds))
