"""Measurement probes that sit outside the engine.

* `StageStats` reads Spark's status store (the same `statusStore()`
  access the plan tests use) for a set of jobs and sums their stages:
  tasks, executor busy time, shuffle bytes, spill and task skew.
* `RssSampler` samples the resident memory of the driver JVM and every
  process under it (the Python workers) from /proc.
* `held_storage_mb` sums executor storage held by cached RDDs.
"""

from __future__ import annotations

import os
import threading
import time

MB = 1 << 20


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def group_jobs(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


class StageStats:
    """Stage totals of every job in `jobs` (job ids), read once after
    the jobs finished. Skipped stages (shuffle reuse) count nowhere."""

    def __init__(self, spark, jobs: list[int]):
        tracker = spark.sparkContext.statusTracker()
        store = _store(spark)
        self.jobs = len(jobs)
        self.stages = self.tasks = 0
        self.task_ms = self.shuffle_write = self.spill = 0
        self.task_skew = 1.0
        heaviest = -1
        gw = spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            done = st.numCompleteTasks()
            if done == 0:
                continue
            self.stages += 1
            self.tasks += done
            run_ms = st.executorRunTime()
            self.task_ms += run_ms
            self.shuffle_write += st.shuffleWriteBytes()
            self.spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if run_ms > heaviest:
                heaviest = run_ms
                dist = store.taskSummary(sid, st.attemptId(), quantiles)
                if dist.isDefined():
                    rt = dist.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    self.task_skew = mx / med if med > 0 else 1.0

    def layer_metrics(self, prefix: str, wall_s: float, cores: int, rows_out: int) -> dict:
        task_s = self.task_ms / 1000.0
        return {
            f"{prefix}.wall_s": (wall_s, "s"),
            f"{prefix}.jobs": (self.jobs, "count"),
            f"{prefix}.stages": (self.stages, "count"),
            f"{prefix}.tasks": (self.tasks, "count"),
            f"{prefix}.task_s": (task_s, "s"),
            f"{prefix}.util": (task_s / (wall_s * cores) if wall_s > 0 else 0.0, "ratio"),
            f"{prefix}.task_skew": (self.task_skew, "ratio"),
            f"{prefix}.shuffle_write_mb": (self.shuffle_write / MB, "MB"),
            f"{prefix}.spill_mb": (self.spill / MB, "MB"),
            f"{prefix}.rows_out": (rows_out, "count"),
        }


def held_storage_mb(spark, settle_s: float = 3.0) -> float:
    """Memory + disk held by cached RDD blocks. Unpersist is
    asynchronous, so poll until two reads 0.2 s apart agree."""
    store = _store(spark)

    def read() -> int:
        rdds = store.rddList(True)
        return sum(
            rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size())
        )

    last, deadline = read(), time.monotonic() + settle_s
    while time.monotonic() < deadline:
        time.sleep(0.2)
        cur = read()
        if cur == last:
            break
        last = cur
    return last / MB


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of a process tree, sampled every `period_s`
    on a daemon thread while inside the `with` block."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        self.root, self.period = root_pid, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))

