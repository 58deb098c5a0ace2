"""Spans, Spark event-log parsing, time-window job attribution and
``/proc`` counters. Nothing here imports Spark, so the logic is testable
on synthetic inputs.

Spans are recorded by the benchmark around calls into each layer
(workload -> pass -> op -> layer call). Each Spark job is attributed to
the innermost span whose interval contains the job's submission time,
whichever thread submitted the job: a streaming micro-batch runs on the
stream's own thread, and a time window is the only attribution that sees
it. A job that is still running when its span ends stays with the span
it was submitted in.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str  # workload | phase | pass | op | layer | check | cleanup
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``span`` nests under the innermost open one."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, kind: str):
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), parent, name, kind, self.clock())
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._open.pop()

    def of_kind(self, kind: str) -> list[Span]:
        return [s for s in self.spans if s.kind == kind]


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.duration - union_length(kids, span.start, span.end)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class Stage:
    id: int
    attempt: int = 0
    submit: float = 0.0
    task_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    scan_tasks: int = 0  # tasks that read input (file or table) bytes


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stage_ids: list[int]
    stages: list[Stage] = field(default_factory=list)

    @property
    def task_s(self) -> float:
        return sum(s.task_s for s in self.stages)

    @property
    def shuffle_write_bytes(self) -> int:
        return sum(s.shuffle_write_bytes for s in self.stages)

    @property
    def shuffle_mb(self) -> float:
        return sum(s.shuffle_read_bytes + s.shuffle_write_bytes for s in self.stages) / MB


@dataclass
class Execution:
    """One SQL execution: its plan when it started, and its last adaptive
    re-plan (the plan that ran)."""

    id: int
    start: float
    plan: str
    final_plan: str


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def parse_event_log(lines) -> tuple[list[Job], list[Execution]]:
    """Jobs, with the stages each one ran, and SQL executions from Spark
    event-log JSON lines.

    A stage id can be listed by several jobs (a reused shuffle is listed
    again but skipped); a stage belongs to the latest job submitted at or
    before the stage itself.
    """
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    execs: dict[int, Execution] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == _SQL_START:
            plan = ev.get("physicalPlanDescription", "")
            execs[ev["executionId"]] = Execution(ev["executionId"], ev["time"] / 1000.0, plan, plan)
        elif kind == _SQL_UPDATE and ev["executionId"] in execs:
            execs[ev["executionId"]].final_plan = ev.get("physicalPlanDescription", "")
        elif kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                                     ev["Submission Time"] / 1000.0, list(ev["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            st = stages.setdefault(key, Stage(*key))
            st.submit = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            st = stages.setdefault(key, Stage(*key))
            m = ev.get("Task Metrics") or {}
            st.task_s += m.get("Executor Run Time", 0) / 1000.0
            read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.input_bytes += read
            st.scan_tasks += read > 0
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    by_submit = sorted(jobs.values(), key=lambda j: (j.submit, j.id))
    for st in stages.values():
        owners = [j for j in by_submit if st.id in j.stage_ids and j.submit <= st.submit + 1e-3]
        owners = owners or [j for j in by_submit if st.id in j.stage_ids]
        if owners:
            owners[-1].stages.append(st)
    return by_submit, sorted(execs.values(), key=lambda e: e.start)


# Operators that whole-stage codegen can compile; one that shows up
# without the codegen star ran interpreted.
_CODEGEN_CAPABLE = {
    "HashAggregate", "Project", "Filter", "SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "Sort", "Expand", "Generate", "ColumnarToRow", "Range",
    "SerializeFromObject", "DeserializeToObject", "MapElements", "LocalLimit",
}
_ALWAYS_FALLBACK = {"SortAggregate", "ObjectHashAggregate"}
_NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"@[0-9a-f]{4,}"), "@"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"file:[^\s,\]\)]+"), "file:"),
    (re.compile(r"(plan_id|ver|batchId|epoch|opId|Batch)( ?[=:] ?)\d+"), r"\1\2N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # lambda variables are numbered by a JVM-wide counter
    (re.compile(r"\b(lambda [A-Za-z]\w*?)_\d+"), r"\1_N"),
    # multi-distinct aggregates number their groups in hash order
    (re.compile(r"\bgid# = \d+"), "gid# = N"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),  # runtime sizes
    # node arguments carry per-run names (temp views, memory sinks)
    (re.compile(r"^Arguments: .*$", re.M), "Arguments:"),
]


# attribute lists of a node's details; Catalyst orders some of them (the
# keys of a multi-distinct aggregate) by expression-id hashes
_ATTR_LIST = re.compile(
    r"^((?:Input|Output|Keys|Functions|Aggregate Attributes|Results) \[\d+\]: )\[(.*)\]$", re.M)


def _split_top(items: str) -> list[str]:
    """Split on the commas of a list that are outside any brackets."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(items):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(items[start:i].strip())
            start = i + 1
    out.append(items[start:].strip())
    return out


def normalize_plan(plan: str) -> str:
    """Drop expression ids, object hashes, run ids, paths, batch numbers,
    lambda numbers and node arguments, and sort attribute lists: all of
    them differ between runs of the same plan."""
    for pattern, repl in _NOISE:
        plan = pattern.sub(repl, plan)
    return _ATTR_LIST.sub(lambda m: m[1] + "[" + ", ".join(sorted(_split_top(m[2]))) + "]", plan)


def plan_hash(plans) -> str:
    """Fingerprint of a set of plans, independent of run-specific noise."""
    h = hashlib.sha256()
    for p in sorted({normalize_plan(p) for p in plans}):
        h.update(p.encode())
    return h.hexdigest()[:16]


def fallback_nodes(plan: str) -> int:
    """SortAggregate/ObjectHashAggregate nodes plus codegen-capable nodes
    without the codegen star, in the operator tree of a formatted plan
    (the final adaptive plan when there is one)."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    n = 0
    for line in tree.splitlines():
        body = line.lstrip(" +-:|")
        starred = body.startswith("* ")
        name = body[2:] if starred else body
        name = name.split(" ", 1)[0]
        if name in _ALWAYS_FALLBACK or (name in _CODEGEN_CAPABLE and not starred):
            n += 1
    return n


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Map span id -> jobs submitted inside it, to the innermost span.
    A job submitted outside every span is dropped."""
    depth = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, spans[p].parent
        depth[s.id] = d
    out: dict[int, list[Job]] = {}
    for job in jobs:
        inside = [s for s in spans if s.start <= job.submit < s.end]
        if inside:
            best = max(inside, key=lambda s: (depth[s.id], s.start))
            out.setdefault(best.id, []).append(job)
    return out


def subtree_ids(span: Span, spans: list[Span]) -> set[int]:
    ids, frontier = {span.id}, [span.id]
    while frontier:
        cur = frontier.pop()
        for s in spans:
            if s.parent == cur and s.id not in ids:
                ids.add(s.id)
                frontier.append(s.id)
    return ids


def jobs_under(span: Span, spans: list[Span], owned: dict[int, list[Job]]) -> list[Job]:
    """Jobs attributed to the span or to any span nested in it, in
    submission order."""
    jobs = [j for sid in subtree_ids(span, spans) for j in owned.get(sid, [])]
    return sorted(jobs, key=lambda j: (j.submit, j.id))


def first_job_delay(span: Span, jobs: list[Job]) -> float:
    """Seconds from the span's start to the first job submitted in it,
    or the whole span when it submitted none (driver-only work)."""
    first = min((j.submit for j in jobs if span.start <= j.submit < span.end), default=span.end)
    return first - span.start


def driver_time(span: Span, jobs: list[Job]) -> float:
    """Span wall time not covered by any of the given jobs."""
    return span.duration - union_length([(j.submit, j.end) for j in jobs], span.start, span.end)


# --------------------------------------------------------------------------
# /proc counters
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def process_cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime: the process and its reaped children."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _TICK


def descendants(root: int) -> list[int]:
    parent_of = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                parent_of[int(name)] = int(f[1])
    out, frontier = [], [root]
    while frontier:
        cur = frontier.pop()
        kids = [p for p, pp in parent_of.items() if pp == cur]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(CPU of ``root`` and all its descendants, CPU of the descendants
    alone); a child's time moves into its parent's cutime when reaped, so
    the sum counts it once either way."""
    kids = sum(process_cpu_s(p) for p in descendants(root))
    return process_cpu_s(root) + kids, kids


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
