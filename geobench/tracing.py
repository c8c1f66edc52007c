"""Tracing for the benchmark's traced mode, all from outside the library:

- `Tracer`: a span (name, start, end, parent, operation id) around every
  call into a layer, held in memory and written out when the run ends;
- `group_counts`: Spark jobs, stages and tasks run under one job group,
  read from `SparkContext.statusTracker()`;
- `read_event_log`: per job group, the jobs' submit/complete times and the
  "number of output rows" of chosen physical operators, from the Spark
  event log the traced session writes;
- `tree_peak_rss_mb`: peak resident memory of a process tree, from /proc;
- `box_counters`: JVM garbage-collection and JIT time, and the machine's
  CPU steal time, to be differenced around a phase.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op=None, group: str | None = None):
        """Record a span; with `group`, Spark jobs started inside it carry
        that job group so their counters can be attributed to it."""
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "op": op, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str, **sections) -> None:
        with open(path, "w") as fh:
            json.dump({**sections, "spans": self.spans}, fh, default=str)


def group_counts(sc, group: str) -> dict:
    """Jobs, stages that ran (skipped ones excluded) and tasks completed for
    one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for job_id in jobs:
        info = st.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            sinfo = st.getStageInfo(stage_id)
            if sinfo is not None and sinfo.numCompletedTasks > 0:
                stages += 1
                tasks += sinfo.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _plan_nodes(info: dict, out: dict) -> None:
    """accumulator id -> operator name, for each operator's output rows."""
    for metric in info.get("metrics", ()):
        if metric.get("name") == "number of output rows":
            out[metric["accumulatorId"]] = info.get("nodeName", "")
    for child in info.get("children", ()):
        _plan_nodes(child, out)


def read_event_log(path: str) -> dict:
    """Per job group: `intervals` [(submit_s, complete_s)] of its jobs and
    `rows` {operator name: output rows summed over its tasks}."""
    job_group: dict = {}
    stage_group: dict = {}
    intervals: dict = defaultdict(dict)
    acc_node: dict = {}
    acc_rows: dict = defaultdict(lambda: defaultdict(int))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
                intervals[group][ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(ev["Job ID"])
                if ev["Job ID"] in intervals.get(group, {}):
                    intervals[group][ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_nodes(ev.get("sparkPlanInfo") or {}, acc_node)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Name") == "number of output rows" and "Update" in acc:
                        acc_rows[group][acc["ID"]] += int(acc["Update"])
    rows: dict = {}
    for group, per_acc in acc_rows.items():
        named: dict = defaultdict(int)
        for acc_id, n in per_acc.items():
            named[acc_node.get(acc_id, "?")] += n
        rows[group] = dict(named)
    return {
        "intervals": {g: [tuple(v) for v in jobs.values() if v[1] is not None]
                      for g, jobs in intervals.items()},
        "rows": rows,
    }


def uncovered_ms(start: float, end: float, intervals) -> float:
    """Milliseconds of [start, end] covered by none of the intervals."""
    covered = 0.0
    cursor = start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered) * 1e3


def _proc_children() -> dict:
    children: dict = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    return children


def descendants(pid: int) -> list[int]:
    children = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of one process; 0 once it has ended."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_peak_rss_mb(pid: int, skip: int | None = None) -> float:
    """Summed peak resident memory (VmHWM) of `pid` and its descendants,
    leaving out the process `skip` itself (its descendants still count)."""
    return sum(peak_rss_mb(p) for p in descendants(pid) if p != skip)


def box_counters(jvm) -> dict:
    """Cumulative JVM GC and JIT milliseconds and machine-wide CPU steal
    seconds (steal is time the hypervisor ran something else)."""
    mgmt = jvm.java.lang.management.ManagementFactory
    gcs = mgmt.getGarbageCollectorMXBeans()
    with open("/proc/stat") as fh:
        steal_ticks = int(fh.readline().split()[8])
    return {
        "gc_ms": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())),
        "jit_ms": mgmt.getCompilationMXBean().getTotalCompilationTime(),
        "steal_s": steal_ticks / os.sysconf("SC_CLK_TCK"),
    }
