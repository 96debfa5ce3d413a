"""Per-layer spans, Spark job/task counts and a /proc memory sampler.

A span brackets one call into a pipeline layer made from the benchmark.
Each span gets its own Spark job group, so the jobs, completed tasks and
failed tasks of that call are read from ``statusTracker()`` right after
the call returns (the status store keeps only the most recent jobs).
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, layer: str, parent: str):
        """Time one layer call; job statistics are collected after the
        timed region so the status-store polling costs the layer nothing."""
        self._n += 1
        group = f"{self.run_id}:{layer}:{self._n}"
        self.sc.setJobGroup(group, layer)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.sc.setJobGroup(f"{self.run_id}:untraced", "untraced")
            self.spans.append(
                {
                    "run": self.run_id,
                    "name": layer,
                    "parent": parent,
                    "start": start,
                    "end": end,
                    **self._job_stats(group),
                }
            )

    def _job_stats(self, group: str, settle_s: float = 5.0) -> dict:
        """Jobs, completed tasks and failed tasks of one job group. Listener
        events arrive asynchronously, so wait until no job of the group
        still reads as running."""
        tracker = self.sc.statusTracker()
        deadline = time.perf_counter() + settle_s
        while True:
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            jobs = [j for j in jobs if j is not None]
            if all(j.status != "RUNNING" for j in jobs) or time.perf_counter() > deadline:
                break
            time.sleep(0.01)
        tasks = failed = 0
        for job in jobs:
            for sid in job.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    def of(self, parent: str) -> dict[str, list[dict]]:
        """The spans of one traced operation, grouped by layer name."""
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"] == parent:
                out.setdefault(s["name"], []).append(s)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    """``root`` and all its descendants: this driver, the JVM it launched
    and the Python workers the JVM forked."""
    kids = _children() if kids is None else kids
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_seconds(root: int) -> float:
    """User plus system CPU time of ``root``'s process tree, including the
    children its processes ended and waited for. Time the hypervisor steals
    from the machine's cores, or that other processes hold them for, is not
    charged to the tree, so unlike wall time this barely moves when the
    host's other tenants are busy."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime and cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


def _status_kb(pid: int, field: str) -> int:
    """One ``kB`` field of a process's status, such as its resident-set
    high-water mark ``VmHWM``."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    """The proportional set size of one process: its resident pages, each
    page shared with other processes divided among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak memory of the driver process tree. This driver and the JVM it
    launched count with their kernel resident-set high-water marks, which
    hold their peaks even when the JVM later returns heap to the system.
    The Python workers are forked from one daemon and share most of its
    pages, so the daemon and its workers count as the largest, over samples
    taken every ``interval_s``, of their summed proportional set size: each
    shared page once, however often workers are replaced."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.hwm_kb: dict[int, int] = {}
        self.workers_kb = 0
        self._seen: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        me = os.getpid()
        kids = _children()
        tree, jvms = process_tree(me, kids), set(kids.get(me, ()))
        with self._lock:
            workers = 0
            for pid in tree:
                self._seen.add(pid)
                if pid == me or pid in jvms:
                    self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0),
                                           _status_kb(pid, "VmHWM"))
                else:
                    workers += _pss_kb(pid)
            self.workers_kb = max(self.workers_kb, workers)

    @property
    def seen(self) -> set[int]:
        """Every process ever sampled in the tree."""
        with self._lock:
            return set(self._seen)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return (sum(self.hwm_kb.values()) + self.workers_kb) / 1024.0
