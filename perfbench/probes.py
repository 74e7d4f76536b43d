"""Outside-in probes: Spark's status store, process-tree memory, steal.

None of these touch the program: the status store is read through the
JVM gateway, memory from ``/proc``.
"""

from __future__ import annotations

import os
import threading


# -- Spark status store ---------------------------------------------------

# the store evicts stages and jobs past these counts (default 1000); the
# query suite alone runs thousands of stages, so keep them all
RETENTION_CONF = {
    "spark.ui.retainedStages": "200000",
    "spark.ui.retainedJobs": "200000",
    "spark.sql.ui.retainedExecutions": "200000",
}


class StatusStore:
    """Reads finished stages and jobs from the driver's AppStatusStore
    (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()

    def _list(self, seq) -> list:
        """A Scala Seq as a Python list."""
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters
                    .asJava(seq))

    def _stages(self) -> list:
        gw = self._sc._gateway
        return self._list(self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), None))

    def _jobs(self) -> list:
        return self._list(self._store.jobsList(None))

    def max_stage_id(self) -> int:
        ids = [s.stageId() for s in self._stages()]
        return max(ids) if ids else -1

    def max_job_id(self) -> int:
        ids = [j.jobId() for j in self._jobs()]
        return max(ids) if ids else -1

    def window(self, stage_lo: int, stage_hi: int, job_lo: int,
               job_hi: int) -> dict:
        """Totals over stages with ``stage_lo < id <= stage_hi`` and jobs
        with ``job_lo < id <= job_hi``."""
        gw = self._sc._gateway
        out = {"jobs": sum(1 for j in self._jobs()
                           if job_lo < j.jobId() <= job_hi),
               "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "shuffle_write_mib": 0.0, "spill_mib": 0.0, "gc_s": 0.0,
               "task_skew": 1.0}
        longest = None
        for s in self._stages():
            if not stage_lo < s.stageId() <= stage_hi:
                continue
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_write_mib"] += s.shuffleWriteBytes() / 2**20
            out["spill_mib"] += (s.memoryBytesSpilled()
                                 + s.diskBytesSpilled()) / 2**20
            out["gc_s"] += s.jvmGcTime() / 1e3
            if longest is None or s.executorRunTime() > longest[2]:
                longest = (s.stageId(), s.attemptId(), s.executorRunTime())
        if longest is not None:
            qs = gw.new_array(gw.jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summary = self._store.taskSummary(longest[0], longest[1], qs)
            if summary.isDefined():
                run = self._list(summary.get().executorRunTime())
                if run[0] > 0:
                    out["task_skew"] = run[1] / run[0]
        return out


# -- process-tree memory ---------------------------------------------------

def _children() -> dict[int, list[int]]:
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


def _pss_mib(pid: int) -> float:
    """Proportional set size: pages shared between processes (the forked
    Python workers share their daemon's) are split among them, so the
    tree's PSS sums to the memory it really holds."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class MemSampler:
    """Samples the PSS of this process and all its descendants on a
    background thread; keeps the peaks of the total, of the JVM and of
    the Python workers (descendant python processes)."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_total = self.peak_jvm = self.peak_workers = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="mem-sampler")

    def sample(self) -> None:
        me = os.getpid()
        kids = _children()
        total = _pss_mib(me)
        jvm = workers = 0.0
        todo = list(kids.get(me, []))
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            pss = _pss_mib(pid)
            total += pss
            comm = _comm(pid)
            if comm == "java":
                jvm += pss
            elif comm.startswith("python"):
                workers += pss
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


# -- host ------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)

