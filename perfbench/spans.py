"""Per-layer tracing: named spans tagged as Spark job groups, joined with the
Spark event log.

A span is one call of a public library function (``pipeline.run``,
``GraphStore.write_snapshot``, one query-pack leaf, ...). Spans nest; a span's
*self* time is its wall time minus the wall time of the spans opened inside
it. While a span is innermost, every Spark job the driver submits carries the
span's job group, so the event log attributes jobs, stages and tasks to
exactly one span. ``layer_stats`` folds spans and event-log records into one
stats dict per layer name.

Everything here is pure bookkeeping over timestamps and JSON lines; the only
Spark call is setting thread-local properties, so the arithmetic is testable
without a session (see ``test_spans.py``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
STATS = (
    "self_s", "jobs", "stages", "task_cpu_s", "shuffle_bytes", "spill_bytes",
    "driver_s", "python_bytes", "files_written", "tasks_empty_ratio",
    "task_max_over_p50",
)
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
_FILES_METRIC = "number of written files"


@dataclass
class Span:
    layer: str
    group: str
    start: float
    parent: str | None = None
    end: float = 0.0
    child_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


@dataclass
class Tracer:
    """Opens spans and tags Spark jobs with the innermost span's group.

    ``sc`` is a SparkContext (or None: spans are still timed, jobs are not
    tagged). A disabled tracer makes ``span`` a no-op so the untraced run
    pays nothing."""

    sc: object = None
    enabled: bool = True
    clock: object = time.time
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str | None):
        if not self.enabled or layer is None:
            yield
            return
        sp = Span(layer, f"{GROUP_PREFIX}{len(self.spans) + len(self._stack)}",
                  self.clock(), self._stack[-1].group if self._stack else None)
        self._stack.append(sp)
        self._tag(sp)
        try:
            yield
        finally:
            sp.end = self.clock()
            self._stack.pop()
            if self._stack:
                self._stack[-1].child_s += sp.end - sp.start
            self._tag(self._stack[-1] if self._stack else None)
            self.spans.append(sp)

    def inside(self, layer: str) -> bool:
        """Whether a span of ``layer`` is open."""
        return any(sp.layer == layer for sp in self._stack)

    def _tag(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(sp.group, sp.layer)

    def wrap(self, owner, attr: str, name_of):
        """Replace ``owner.attr`` with a traced version. ``name_of(*args,
        **kwargs)`` returns the layer for one call, or None to leave the call
        unspanned (its time then counts to the enclosing span)."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)


# --- event log ----------------------------------------------------------------


@dataclass
class EventLog:
    """The parts of a Spark event log that per-layer stats need."""

    jobs: dict[int, dict] = field(default_factory=dict)   # id → group, start, end, stages
    stages: dict[int, int] = field(default_factory=dict)  # stage id → job id (first owner)
    ran_stages: set = field(default_factory=set)          # completed (not skipped) stages
    tasks: list[dict] = field(default_factory=list)
    exec_group: dict[int, str | None] = field(default_factory=dict)
    files_metric_ids: set = field(default_factory=set)
    driver_accums: list[tuple[int, int, int]] = field(default_factory=list)


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _plan_metric_ids(child, name, out)


def parse_event_log(lines) -> EventLog:
    """Fold the JSON lines of one (uncompressed, non-rolling) event log."""
    log = EventLog()
    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            log.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e["Stage IDs"]),
            }
            for sid in e["Stage IDs"]:
                log.stages.setdefault(sid, jid)
            if props.get("spark.sql.execution.id") is not None:
                log.exec_group.setdefault(
                    int(props["spark.sql.execution.id"]), props.get("spark.jobGroup.id")
                )
        elif ev == "SparkListenerJobEnd":
            log.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageCompleted":
            log.ran_stages.add(e["Stage Info"]["Stage ID"])
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", ())}
            shuffle_read = m.get("Shuffle Read Metrics") or {}
            log.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "rows_read": (m.get("Input Metrics") or {}).get("Records Read", 0)
                + shuffle_read.get("Total Records Read", 0),
                "python_bytes": sum(int(acc.get(k) or 0) for k in _PY_METRICS),
            })
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_ids(e["sparkPlanInfo"], _FILES_METRIC, log.files_metric_ids)
            if ev.endswith("Start") and e.get("jobGroupId"):
                log.exec_group.setdefault(e["executionId"], e["jobGroupId"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                log.driver_accums.append((e["executionId"], acc_id, value))
    return log


def read_event_log(directory: str) -> EventLog:
    paths = sorted(glob.glob(os.path.join(directory, "*")))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {paths}")
    with open(paths[0]) as f:
        return parse_event_log(f)


# --- per-layer stats --------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
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


def _skew(tasks: list[dict]) -> float:
    """max / median task run time in the stage that ran longest in total."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    return max(runs) / max(statistics.median(runs), 1.0)


@dataclass
class _Work:
    """Spark work attributed to one set of job groups."""

    jobs: list[dict] = field(default_factory=list)
    stages: set = field(default_factory=set)
    tasks: list[dict] = field(default_factory=list)
    files: int = 0


def _work_by_group(log: EventLog | None, groups: set) -> dict[str, _Work]:
    work = {g: _Work() for g in groups}
    if log is None:
        return work
    for job in log.jobs.values():
        if job["group"] in work:
            work[job["group"]].jobs.append(job)
    stage_group = {sid: log.jobs[jid]["group"] for sid, jid in log.stages.items()}
    for sid in log.ran_stages:
        if stage_group.get(sid) in work:
            work[stage_group[sid]].stages.add(sid)
    for t in log.tasks:
        if stage_group.get(t["stage"]) in work:
            work[stage_group[t["stage"]]].tasks.append(t)
    for exec_id, acc_id, value in log.driver_accums:
        g = log.exec_group.get(exec_id)
        if g in work and acc_id in log.files_metric_ids:
            work[g].files += int(value)
    return work


def _driver_s(time_s: float, jobs: list[dict]) -> float:
    """The part of ``time_s`` that none of ``jobs`` covers: planning,
    scheduling and driver Python."""
    covered = union_length((j["start"], j["end"]) for j in jobs if j["end"] is not None)
    return max(0.0, time_s - covered)


def _stats(time_s: float, parts: list[_Work], time_key: str) -> dict:
    """STATS for the pooled work of several groups over ``time_s`` seconds."""
    jobs = [j for w in parts for j in w.jobs]
    tasks = [t for w in parts for t in w.tasks]
    return {
        time_key: time_s,
        "jobs": len(jobs),
        "stages": sum(len(w.stages) for w in parts),
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "driver_s": _driver_s(time_s, jobs),
        "python_bytes": sum(t["python_bytes"] for t in tasks),
        "files_written": sum(w.files for w in parts),
        "tasks_empty_ratio": (
            sum(1 for t in tasks if t["rows_read"] == 0) / len(tasks) if tasks else 0.0
        ),
        "task_max_over_p50": _skew(tasks),
    }


def layer_stats(spans: list[Span], log: EventLog | None) -> dict[str, dict]:
    """One STATS dict per layer, over each span's *own* time and jobs (jobs
    of nested spans carry the nested span's group, so they never count
    twice). Spans of one layer are pooled: times and counts add up, ratios
    are taken over the pooled tasks. Note ``driver_s`` is computed per span
    and then summed, so a job of one span never covers another span's
    time."""
    work = _work_by_group(log, {sp.group for sp in spans})
    by_layer: dict[str, list[Span]] = {}
    for sp in spans:
        by_layer.setdefault(sp.layer, []).append(sp)
    out = {}
    for layer, group in by_layer.items():
        st = _stats(sum(sp.self_s for sp in group), [work[sp.group] for sp in group],
                    "self_s")
        st["driver_s"] = sum(_driver_s(sp.self_s, work[sp.group].jobs) for sp in group)
        out[layer] = st
    return out


def subtree_stats(spans: list[Span], log: EventLog | None, roots: list[Span]) -> dict:
    """STATS over ``roots`` and every span nested in them, timed by the
    roots' wall time (``wall_s`` replaces ``self_s``)."""
    children: dict[str, list[Span]] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)
    members, todo = [], list(roots)
    while todo:
        sp = todo.pop()
        members.append(sp)
        todo.extend(children.get(sp.group, ()))
    work = _work_by_group(log, {sp.group for sp in members})
    return _stats(sum(r.wall_s for r in roots), [work[sp.group] for sp in members],
                  "wall_s")


def unattributed_jobs(log: EventLog, spans: list[Span]) -> int:
    """Jobs whose group matches no span (the coverage check of a traced run)."""
    groups = {sp.group for sp in spans}
    return sum(1 for j in log.jobs.values() if j["group"] not in groups)
