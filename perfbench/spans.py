"""Spans and Spark counters recorded from outside the program.

Every call the benchmark makes into the program runs under its own Spark
job group.  With tracing on, the benchmark reads what that group did from
the driver's status store (jobs, stages, task metrics) and from the
executed plan of the DataFrame it acted on (rows into Python evaluation
nodes, rows out of file scans).  With tracing off only the wall clock is
read, so the untraced run measures what a user sees.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

# executed-plan nodes that hand rows to a Python worker
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)

ENGINE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "exchanges",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
    "sched_delay_ms",
    "job_s",
)


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory and,
    when enabled, the engine counters of each call's job group."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.calls: list[dict] = []
        self._ids = itertools.count(1)
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = next(self._ids)
        start = time.perf_counter()
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id}
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["start"] = start - self._t0
            rec["end"] = end - self._t0
            rec["dur_s"] = end - start
            if self.enabled:
                self.spans.append(rec)

    def add_span(self, name: str, start_epoch: float, end_epoch: float, parent: int | None) -> None:
        """A span the program timed itself (epoch seconds)."""
        self.spans.append(
            {
                "id": next(self._ids),
                "name": name,
                "parent": parent,
                "run_id": self.run_id,
                "start": start_epoch - self._epoch0,
                "end": end_epoch - self._epoch0,
                "dur_s": end_epoch - start_epoch,
            }
        )

    def call(self, name: str, plan, action):
        """Time `plan()` (builds the DataFrame; eager for operators that
        run jobs while planning) and `action(df)` (runs it) under one job
        group.  Returns (result, record) with plan_s, exec_s, wall_s and,
        when tracing, the group's engine counters and plan counters."""
        group = f"{self.run_id}:{name}:{next(self._ids)}"
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name) as top:
                with self.span(name + ".plan", top["id"]):
                    t0 = time.perf_counter()
                    df = plan()
                    t1 = time.perf_counter()
                with self.span(name + ".exec", top["id"]):
                    result = action(df)
                    t2 = time.perf_counter()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec = {"name": name, "span": top["id"], "plan_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0}
        if self.enabled:
            rec.update(self.engine_counters(group, t2 - t0))
            rec.update(plan_counters(df))
            self.calls.append(rec)
        return result, rec

    def engine_counters(self, group: str, wall_s: float) -> dict:
        """Status-store totals over every job the group ran."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        out = dict.fromkeys(ENGINE_KEYS, 0)
        out["task_skew"] = 1.0
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            jd = store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["job_s"] += (
                    jd.completionTime().get().getTime()
                    - jd.submissionTime().get().getTime()
                ) / 1e3
            sids = jd.stageIds()
            for i in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(i))
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["failed_tasks"] += sd.numFailedTasks()
                if sd.shuffleWriteRecords() > 0:
                    out["exchanges"] += 1
                tl = store.taskList(sd.stageId(), sd.attemptId(), 10_000)
                durs = []
                for k in range(tl.size()):
                    td = tl.apply(k)
                    out["sched_delay_ms"] += td.schedulerDelay()
                    if td.duration().isDefined():
                        durs.append(td.duration().get())
                if len(durs) > 1 and statistics.median(durs) > 0:
                    out["task_skew"] = max(
                        out["task_skew"], max(durs) / statistics.median(durs)
                    )
        # driver-side time: the call's wall time no Spark job covered
        out["driver_s"] = max(wall_s - out["job_s"], 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans, "calls": self.calls, **extra},
                f,
                indent=1,
            )


def _children(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _metric(node, key: str) -> int:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else 0


def plan_counters(df) -> dict:
    """Counters of the executed plan of `df`'s last action: rows handed
    to Python evaluation nodes and rows read by file scans.  Jobs an operator runs while planning
    (eager checkpoints, driver loops) are counted by engine_counters only."""
    out = {"python_rows": 0, "scan_rows": 0}
    if df is None or not hasattr(df, "_jdf"):
        return out
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if any(name.startswith(p) for p in PYTHON_NODES):
            # scalar UDF nodes return one row per row they are sent
            out["python_rows"] += _metric(node, "pythonNumRowsReceived")
        elif name.startswith("Scan ") or "FileScan" in node.getClass().getSimpleName():
            out["scan_rows"] += _metric(node, "numOutputRows")
        stack.extend(_children(node))
    return out


def descendants() -> dict[int, int]:
    """{pid: CPU ticks} of this process and every live descendant (the
    JVM and its Python workers); ticks are user + system time, including
    the children each has reaped."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2 :].split()
        # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    me, out = os.getpid(), {}
    for pid, (_, ticks) in procs.items():
        p = pid
        while p != me and p in procs and p > 1:
            p = procs[p][0]
        if p == me:
            out[pid] = ticks
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process tree.  Time the host steals from the
    guest is not counted, so this moves far less than the wall clock when
    other guests load the host."""
    return sum(descendants().values()) / os.sysconf("SC_CLK_TCK")
