"""Counters read from outside the program under test.

- CPU: /proc utime+stime+cutime+cstime summed over this process and every
  live descendant (the JVM, the PySpark daemon and its workers). Workers
  that exit are reaped by the daemon, so their CPU lands in its cutime and
  nothing is lost between two samples.
- JVM: CompilationMXBean (JIT time), GC MXBeans, heap pool peaks,
  ``CodegenMetrics`` (generated-class compiles, via py4j) and
  ``HiveCatalogMetrics`` (files discovered by file listing).
- Spark event log (traced runs only): per-job-group stage task metrics,
  SQL metrics and the final adaptive plans, parsed after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    fields = f.read().rsplit(b")", 1)[1].split()
            except OSError:
                continue
            kids[int(fields[1])].append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and its live descendants."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and its
    live descendants, counting reaped children through cutime/cstime."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        # fields[0] is state (field 3); utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def worker_peak_rss_mb(root: int | None = None) -> float:
    """Largest peak resident set (VmHWM) among the Python processes below
    ``root`` (the PySpark daemon and its workers), in MiB."""
    peak = 0
    for pid in process_tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/status") as f:
                hwm = next((ln for ln in f if ln.startswith("VmHWM:")), "VmHWM: 0 kB")
        except OSError:
            continue
        peak = max(peak, int(hwm.split()[1]))
    return peak / 1024


class JvmCounters:
    """Cumulative JVM-side counters, read through the session's py4j gateway."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._catalog = jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
        self._codegen_cls = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def read(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        heap = sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
        )
        return {
            "jit_ms": float(self._mf.getCompilationMXBean().getTotalCompilationTime()),
            "gc_ms": float(gc_ms),
            "heap_peak_gb": heap / 2**30,
            "codegen_compiles": float(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            # CodeGenerator.compileTime is the summed compile time in ns
            "codegen_compile_ms": self._codegen_cls.compileTime() / 1e6,
            "files_discovered": float(self._catalog.METRIC_FILES_DISCOVERED().getCount()),
        }


    def reset_peaks(self) -> None:
        for p in self._mf.getMemoryPoolMXBeans():
            p.resetPeakUsage()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_TASK_METRICS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "data sent to Python workers": ("python_bytes", 1.0),
    "data returned from Python workers": ("python_bytes", 1.0),
}


_LOCATION = re.compile(r"Location: \w+ \[([^\]]*)\]")


def _count_nodes(plan: dict, name: str) -> int:
    n = int(plan.get("nodeName") == name)
    return n + sum(_count_nodes(c, name) for c in plan.get("children", ()))


def _metric_ids(plan: dict, name: str) -> set[int]:
    ids = {m["accumulatorId"] for m in plan.get("metrics", ()) if m.get("name") == name}
    for c in plan.get("children", ()):
        ids |= _metric_ids(c, name)
    return ids


def _busy_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of [start, end) millisecond intervals."""
    busy, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            busy += e - max(s, end)
            end = e
    return busy / 1000.0


def read_event_log(log_dir: str, scan_markers: dict[str, str]) -> dict[str, dict[str, float]]:
    """Job group -> summed stage metrics, job/stage/task counts, job time
    (union of job intervals), eager checkpoint jobs, and ReusedExchange
    nodes in the final adaptive plans of the group's SQL executions.
    ``scan_markers`` maps a name to a path fragment: ``<name>_job_s`` is
    the job time of executions whose plan scans a location containing it."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_exec: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    intervals: dict[tuple[str, str], list[tuple[float, float]]] = defaultdict(list)
    exec_scans: dict[int, set[str]] = {}
    final_plan: dict[int, tuple[str, dict]] = {}
    # scans report the bytes of the files they read as a driver-side SQL
    # metric; the task-side input.bytesRead misses the vectorized reader
    files_size: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"]
                    g = groups[group]
                    g["jobs"] += 1
                    names = [s["Stage Name"] for s in ev["Stage Infos"]]
                    g["eager_checkpoint_jobs"] += any("heckpoint at " in n for n in names)
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        job_exec[jid] = int(eid)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        span = (job_start[jid], ev["Completion Time"])
                        intervals[(job_group[jid], "job_s")].append(span)
                        for name in exec_scans.get(job_exec.get(jid), ()):
                            intervals[(job_group[jid], f"{name}_job_s")].append(span)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    g = groups[group]
                    g["tasks"] += info["Number of Tasks"]
                    for acc in info.get("Accumulables", ()):
                        key = _TASK_METRICS.get(acc.get("Name"))
                        if key is not None:
                            g[key[0]] += float(acc.get("Value", 0)) * key[1]
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    eid = ev["executionId"]
                    locs = " ".join(_LOCATION.findall(ev.get("physicalPlanDescription", "")))
                    exec_scans[eid] = {n for n, frag in scan_markers.items() if frag in locs}
                    if ev.get("jobGroupId"):
                        final_plan[eid] = (ev["jobGroupId"], ev["sparkPlanInfo"])
                        for acc in _metric_ids(ev["sparkPlanInfo"], "size of files read"):
                            files_size[acc] = ev["jobGroupId"]
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    eid = ev["executionId"]
                    if eid in final_plan:
                        final_plan[eid] = (final_plan[eid][0], ev["sparkPlanInfo"])
                        for acc in _metric_ids(ev["sparkPlanInfo"], "size of files read"):
                            files_size[acc] = final_plan[eid][0]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in ev["accumUpdates"]:
                        if acc in files_size:
                            groups[files_size[acc]]["input_bytes"] += value
    for group, plan in final_plan.values():
        groups[group]["reused_exchanges"] += _count_nodes(plan, "ReusedExchange")
    for (group, key), spans in intervals.items():
        groups[group][key] = _busy_s(spans)
    return {k: dict(v) for k, v in groups.items()}
