"""Measurements taken from outside the engine: the process tree's CPU
and memory from /proc, host steal time, Spark's status store, and an
in-memory span recorder.

The CPU and RSS figures cover this Python process and every process
below it: the driver JVM that pyspark launches and the Python workers
that JVM forks for ``mapInPandas``.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:  # the process ended while we walked the tree
        return None
    # the command name may hold spaces; fields resume after its ")"
    return text[text.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including children it has
    already reaped (utime, stime, cutime, cstime)."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICKS


def tree_rss_mb(root: int) -> float:
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return pages * _PAGE / 2**20


def steal_jiffies() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


class RssSampler:
    """Samples the tree's resident set every ``interval`` seconds on a
    background thread and keeps the peak."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


STAGE_COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s",
                  "executor_run_s", "gc_s", "input_bytes", "shuffle_bytes")


class SparkStatus:
    """Per-job-group totals from the driver's AppStatusStore, reached
    through py4j (works with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def jobs_of_group(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids) -> dict:
        """Counters summed over the completed stages of ``job_ids``."""
        self._bus.waitUntilEmpty()  # the store is fed asynchronously
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        out["jobs"] = len(job_ids)
        seen = set()
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                s = self._store.lastStageAttempt(sid)
                if s.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse an earlier shuffle
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_bytes"] += s.inputBytes()
                out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
        return out


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    Each span runs its Spark jobs under a job group of its own, so the
    status store can attribute jobs, stages, tasks and executor time to
    it; the counters are attached when the span closes. The tracer
    starts disabled: then it records nothing and sets no job group.
    """

    def __init__(self, spark):
        self.enabled = False
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._status = SparkStatus(spark)
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **attrs,
        }
        group = f"{self.run_id}-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            rec["spark"] = self._status.totals(self._status.jobs_of_group(group))

    def group_totals(self, group: str) -> dict:
        """Counters of a job group the engine set itself (a streaming
        query runs its micro-batch jobs under its run id)."""
        return self._status.totals(self._status.jobs_of_group(group))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")
