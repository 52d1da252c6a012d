"""Measurement probes: process-tree RSS, per-op Spark job counters, and
orderly shutdown of the JVM and Python workers a run starts."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path


class TreeRss:
    """Peak summed resident memory (PSS) of this process and all its
    descendants (this process, the JVM, Python workers), sampled by
    perfbench/rss.py in a separate process; also every pid seen, so
    shutdown can wait for all of them."""

    def __init__(self):
        self.pids: set[int] = set()
        #: MiB per process name at the peak
        self.peak_by_comm: dict[str, float] = {}
        self._proc = None

    def start(self) -> "TreeRss":
        self._proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).with_name("rss.py")), str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        out, _ = self._proc.communicate("")
        res = json.loads(out)
        self.pids.update(res["pids"])
        self.peak_by_comm = {k: round(v / 2**20, 1) for k, v in res["peak_by_comm"].items()}
        self.pids.discard(self._proc.pid)
        return res["peak_bytes"] / 2**20


class JobCounters:
    """Counts Spark jobs, stages, single-task stages and tasks per op by
    running each op under its own job group and reading the status
    tracker afterwards. Only stages that completed a task are counted, so
    stages skipped by shuffle reuse do not show."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    def run(self, fn):
        """Run ``fn()`` under a fresh job group; return (result, counts)."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return result, self.counts(group)

    def counts(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = single = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue
                stages += 1
                tasks += st.numCompletedTasks
                single += st.numTasks == 1
        return {"jobs": len(jobs), "stages": stages, "single_task_stages": single,
                "tasks": tasks}


def jvm_memory(spark) -> dict[str, dict[str, float]]:
    """Per JVM memory pool (heap and non-heap), MiB: committed now, used
    now, and peak used since the JVM started."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {}
    for pool in mf.getMemoryPoolMXBeans():
        now, peak = pool.getUsage(), pool.getPeakUsage()
        out[pool.getName()] = {
            "committed": round(now.getCommitted() / 2**20, 1),
            "used": round(now.getUsed() / 2**20, 1),
            "peak_used": round(peak.getUsed() / 2**20, 1),
        }
    return out


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM gateway and wait for the JVM to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except Exception:
            proc.kill()
            proc.wait()


def wait_gone(pids: set[int], timeout_s: float = 60.0) -> None:
    """Wait until every process in ``pids`` but this one has exited
    (Python workers outlive the JVM briefly); kill stragglers."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if p != me and not _gone(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _gone(pid: int) -> bool:
    """Exited (or a zombie awaiting its parent)."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
