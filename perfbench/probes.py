"""Spark-side counters for traced runs: jobs, stages and tasks by job group,
SQL metrics from the final adaptive plan, Python worker processes under
the JVM, and process memory from ``/proc``.

Nothing here runs in an untraced run except :func:`peak_rss_mb`, which is
read once, after the measured ops.
"""

from __future__ import annotations

import itertools
import os
import time


def jvm_pid(spark) -> int:
    """PID of the driver JVM (spark-submit execs into java)."""
    return spark.sparkContext._gateway.proc.pid


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> dict:
    """VmHWM of the JVM and of this driver process, in MiB."""
    return {
        "jvm": _vm_hwm_kb(jvm_pid(spark)) / 1024.0,
        "driver": _vm_hwm_kb(os.getpid()) / 1024.0,
    }


def python_workers(root_pid: int) -> set[int]:
    """PIDs of python processes descending from ``root_pid``."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # comm may contain spaces; it is the text between the outer parens
        lp, rp = stat.index("("), stat.rindex(")")
        pid = int(name)
        comm[pid] = stat[lp + 1 : rp]
        parent[pid] = int(stat[rp + 2 :].split()[1])
    out = set()
    for pid, c in comm.items():
        if not c.startswith("python"):
            continue
        p = parent.get(pid)
        while p and p != root_pid:
            p = parent.get(p)
        if p == root_pid:
            out.add(pid)
    return out


class JobCounter:
    """Tags Spark jobs with a fresh job group per layer call and resolves
    the groups' jobs, stages and tasks after the run (the status store is
    fed asynchronously by the listener bus, so counts are read late)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.pending: list[tuple[str, dict]] = []
        self._ids = itertools.count()
        self._open: list[str] = []  # groups of the layer calls in progress

    def begin(self) -> str:
        group = f"pb-{next(self._ids)}"
        self._open.append(group)
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str, counters: dict) -> None:
        """Close ``group`` and hand later jobs back to the enclosing call."""
        self._open.remove(group)
        outer = self._open[-1] if self._open else "pb-untagged"
        self.sc.setJobGroup(outer, outer)
        self.pending.append((group, counters))

    def resolve(self, settle_s: float = 1.0) -> None:
        """Fill ``jobs``, ``stages`` and ``tasks`` into each group's counters."""
        time.sleep(settle_s)
        st = self.sc.statusTracker()
        for group, counters in self.pending:
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    # a stage skipped because its shuffle output was reused
                    # ran no tasks
                    if s is not None and s.numCompletedTasks + s.numFailedTasks:
                        stages += 1
                        tasks += s.numCompletedTasks + s.numFailedTasks
            counters["jobs"] = len(jobs)
            counters["stages"] = stages
            counters["tasks"] = tasks
        self.pending.clear()


def plan_metrics(spark, df) -> dict:
    """Sum selected SQL metrics over the executed (final adaptive) plan of
    ``df``: files and bytes scanned, shuffle bytes written, and the
    largest operator peak memory."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out = {"num_files": 0, "scan_bytes": 0, "shuffle_bytes": 0, "peak_memory_bytes": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its bytes were counted where the exchange ran
        metrics = conv.asJava(node.metrics())
        for key in metrics.keySet():
            v = metrics.get(key).value()
            if key == "numFiles":
                out["num_files"] += v
            elif key == "filesSize":
                out["scan_bytes"] += v
            elif key == "shuffleBytesWritten":
                out["shuffle_bytes"] += v
            elif key == "peakMemory":
                out["peak_memory_bytes"] = max(out["peak_memory_bytes"], v)
        stack.extend(conv.asJava(node.children()))
    return out
