"""Spans around the benchmark's calls into each layer, Spark job counts
per span, and the Spark event-log reader that attributes stage metrics
to spans.

A span is opened by the benchmark around one call into a module's public
function. Spans nest; each holds a name, start, end, parent and pass id,
and stays in memory until the run writes them out. With ``spark_context``
set, every span runs under its own Spark job group, so the status
tracker (at span end) and the event log (after the run) attribute jobs,
stages and task metrics to the innermost span that launched them.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterable, Optional

GROUP_PREFIX = "pb-span-"


@dataclass
class Span:
    span_id: int
    name: str
    parent: Optional[int]
    pass_id: Optional[int]
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. Setting ``spark_context`` turns on job-group
    attribution for the spans opened after it."""

    def __init__(self, tag: str = "run"):
        self.tag = tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark_context = None
        self.pass_id: Optional[int] = None

    def _group(self, sp: Optional[Span]) -> None:
        if self.spark_context is None:
            return
        if sp is None:
            self.spark_context.setLocalProperty("spark.jobGroup.id", None)
            self.spark_context.setLocalProperty("spark.job.description", None)
        else:
            self.spark_context.setJobGroup(self.group_id(sp.span_id), sp.name)

    def group_id(self, span_id: int) -> str:
        """The Spark job group of a span; unique across the tracers of
        one session as long as their tags differ."""
        return f"{GROUP_PREFIX}{self.tag}-{span_id}"

    def open(self, name: str) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.pass_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        if not self._stack or self._stack[-1] is not sp:
            raise RuntimeError(f"span {sp.name} closed out of order")
        self._stack.pop()
        if self.spark_context is not None:
            tracker = self.spark_context.statusTracker()
            sp.jobs = sorted(tracker.getJobIdsForGroup(self.group_id(sp.span_id)))
            stages = set()
            for j in sp.jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            sp.stages = sorted(stages)
        self._group(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ------------------------------------------------------------ arithmetic


def union_length(intervals: Iterable[tuple]) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict:
    """{span_id: duration minus the part of it its children cover}."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, ())
            if c.end > s.start and c.start < s.end
        )
        out[s.span_id] = s.duration - covered
    return out


def descendants(spans: list[Span], root_id: int) -> list[Span]:
    """The span ``root_id`` and every span below it."""
    children: dict = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    out, todo = [], [root_id]
    by_id = {s.span_id: s for s in spans}
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(c.span_id for c in children.get(sid, ()))
    return out


def percentile(values: list, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, math.ceil(p / 100.0 * len(xs)) - 1))
    return xs[k]


def tail_percentile(n: int) -> int:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it (p50 when the sample is smaller than that allows)."""
    best = 50
    for p in (75, 90, 95, 99):
        if n * (100 - p) >= 1000:
            best = p
    return best


# ------------------------------------------------------------- event log

STAGE_FIELDS = (
    "tasks", "failed_tasks", "run_s", "cpu_s", "output_bytes",
    "output_records", "shuffle_write_bytes", "spill_bytes", "python_bytes",
)

#: driver-side SQL metric of a file scan: bytes of the files it reads
#: (task input metrics miss reads that parquet makes off the task thread)
SCAN_METRIC = "size of files read"

#: SQL metrics of the Arrow/Python runners (bytes crossing to workers)
PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


def parse_event_log(lines: Iterable[str]) -> dict:
    """Read Spark event-log lines into
    {"stages": {stage_id: {"group", "task_ms": [...], **STAGE_FIELDS}},
     "scan_bytes": {job_group: bytes}}.

    Stages take the job group of the job that submitted them; skipped
    stages have no task events and stay at zero. Scan bytes come from
    the SQL executions a job group ran."""
    stages: dict = {}
    scan_accs: set = set()
    exec_group: dict = {}
    driver_values: dict = {}

    def plan_accs(node: dict) -> None:
        for m in node.get("metrics") or ():
            if m.get("name") == SCAN_METRIC:
                scan_accs.add(m["accumulatorId"])
        for child in node.get("children") or ():
            plan_accs(child)

    def stage(sid: int) -> dict:
        if sid not in stages:
            stages[sid] = {"group": None, "task_ms": [], **{k: 0 for k in STAGE_FIELDS}}
        return stages[sid]

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind.endswith("SQLExecutionStart"):
            exec_group[ev["executionId"]] = ev.get("jobGroupId")
            plan_accs(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            plan_accs(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in ev.get("accumUpdates") or ():
                driver_values[(ev["executionId"], acc)] = value
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage(ev["Stage Info"]["Stage ID"])["group"] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            st = stage(ev["Stage ID"])
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            st["failed_tasks"] += int(bool(info.get("Failed")))
            st["task_ms"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            st["run_s"] += m.get("Executor Run Time", 0) / 1e3
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out = m.get("Output Metrics") or {}
            st["output_bytes"] += out.get("Bytes Written", 0)
            st["output_records"] += out.get("Records Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables") or ():
                if acc.get("Name") in PYTHON_ACCUMULABLES:
                    st["python_bytes"] += int(acc.get("Update") or 0)
    scan_bytes: dict = {}
    for (execution, acc), value in driver_values.items():
        group = exec_group.get(execution)
        if acc in scan_accs and group:
            scan_bytes[group] = scan_bytes.get(group, 0) + value
    return {"stages": stages, "scan_bytes": scan_bytes}


def span_stage_metrics(log: dict, tracer: Tracer) -> dict:
    """{span_id: summed STAGE_FIELDS + "task_ms" + "scan_bytes"} over
    the stages and SQL executions of each span's own job group
    (children not included)."""
    by_group = {tracer.group_id(s.span_id): s.span_id for s in tracer.spans}
    out = {sid: {"task_ms": [], "scan_bytes": log["scan_bytes"].get(g, 0),
                 **{k: 0 for k in STAGE_FIELDS}} for g, sid in by_group.items()}
    for st in log["stages"].values():
        if st["group"] not in by_group:
            continue
        acc = out[by_group[st["group"]]]
        for k in STAGE_FIELDS:
            acc[k] += st[k]
        acc["task_ms"].extend(st["task_ms"])
    return out


def median(values: list) -> float:
    return statistics.median(values) if values else 0.0


class RunView:
    """Per-pass aggregates over a run's spans.

    ``traced`` and ``untraced`` give the median, over the passes of that
    kind, of the per-pass sum for every span of a name. A field is
    "dur" (seconds), "jobs" or "stages" (status-tracker counts over the
    span and its descendants) or an event-log field of STAGE_FIELDS
    (summed over the span and its descendants). ``probe`` takes the
    median over the spans of a name outside any pass."""

    def __init__(self, spans: list, traced_passes, untraced_passes, stage_metrics=None):
        self.spans = spans
        self.traced_passes = set(traced_passes)
        self.untraced_passes = set(untraced_passes)
        self.stage_metrics = stage_metrics or {}
        self.notes: dict = {}
        self._subtree: dict = {}

    def subtree(self, sp: Span) -> list:
        if sp.span_id not in self._subtree:
            self._subtree[sp.span_id] = descendants(self.spans, sp.span_id)
        return self._subtree[sp.span_id]

    def value(self, sp: Span, field: str = "dur") -> float:
        if field == "dur":
            return sp.duration
        tree = self.subtree(sp)
        if field in ("jobs", "stages"):
            return len(set().union(*(getattr(s, field) for s in tree)))
        return sum(self.stage_metrics.get(s.span_id, {}).get(field, 0) for s in tree)

    def _median_over(self, passes, name: str, field: str) -> float:
        per_pass = {p: 0.0 for p in passes}
        for s in self.spans:
            if s.name == name and s.pass_id in per_pass:
                per_pass[s.pass_id] += self.value(s, field)
        return median(list(per_pass.values()))

    def traced(self, name: str, field: str = "dur") -> float:
        return self._median_over(self.traced_passes, name, field)

    def untraced(self, name: str, field: str = "dur") -> float:
        return self._median_over(self.untraced_passes, name, field)

    def probe(self, name: str, field: str = "dur") -> float:
        return median([self.value(s, field) for s in self.spans
                       if s.name == name and s.pass_id is None])

    def roots(self, passes) -> list:
        return [s for s in self.spans if s.name == "pass" and s.pass_id in passes]

    def trace_overhead(self) -> list:
        """Traced minus untraced pass time of each adjacent pair of passes
        (2k, 2k+1) that holds one of each kind; a pass without such a
        partner is not used."""
        dur = {s.pass_id: s.duration for s in self.roots(self.traced_passes
                                                         | self.untraced_passes)}
        diffs = []
        for a in sorted(p for p in dur if p % 2 == 0 and p + 1 in dur):
            if (a in self.traced_passes) != (a + 1 in self.traced_passes):
                t, u = (a, a + 1) if a in self.traced_passes else (a + 1, a)
                diffs.append(dur[t] - dur[u])
        return diffs

    def untraced_partitions(self) -> list:
        """Per-partition latencies of the resumable runs in untraced
        passes, leaving out each run's first partition (it also holds
        the partition listing job) and the few-row partition of the
        injected future day ("manifest.partition_injected")."""
        out = []
        for s in self.spans:
            if s.name == "manifest.run" and s.pass_id in self.untraced_passes:
                parts = [c for c in self.spans if c.parent == s.span_id
                         and c.name.startswith("manifest.partition")]
                out += [c.duration for c in parts[1:] if c.name == "manifest.partition"]
        return out

    def note(self, name: str, text: str) -> None:
        self.notes[name] = text
