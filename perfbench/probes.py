"""Reads taken from outside the engine: Spark's in-process status stores,
the cache manager, and the RSS of the JVM process tree from ``/proc``.

All of these answer with ``spark.ui.enabled=false``; nothing here adds a
listener or a conf to the session under test.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
STAGE_FIELDS = ("stages", "tasks", "task_ms", "gc_ms", "shuffle_write_b",
                "shuffle_read_b", "spill_b")


def group_stats(spark, group: str) -> dict:
    """Jobs, stages and task metrics of every job run under ``group``.
    Skipped stages (shuffle output reused) count nowhere."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = len(jobs)
    for s in stage_ids:
        sd = store.lastStageAttempt(s)
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["task_ms"] += sd.executorRunTime()
        out["gc_ms"] += sd.jvmGcTime()
        out["shuffle_write_b"] += sd.shuffleWriteBytes()
        out["shuffle_read_b"] += sd.shuffleReadBytes()
        out["spill_b"] += sd.diskBytesSpilled()
    return out


def cache_counts(spark) -> tuple[int, int]:
    """(CacheManager entries, persisted RDDs) held by the session now."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.numCachedEntries(), spark.sparkContext._jsc.getPersistentRDDs().size()


def release_all(spark) -> None:
    """Drop every cached plan and persisted RDD the session holds."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of a process tree, sampled every 0.1 s on a thread
    while active (``with sampler: ...``)."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            self._stop.wait(0.1)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and every process it started (the
    Python workers), and wait until all of them have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = tree_pids(gateway.proc.pid)
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        gateway.proc.wait(timeout)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    gateway.close()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
