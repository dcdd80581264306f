"""Spans recorded around the calls into each layer, self time, and the
parse of Spark's own event log into per-operation layer figures.

Span tree of one operation (ids are the operation id, which is also the
Spark job group of every job the operation starts)::

    op ─┬─ sources.load          timed by the benchmark
        ├─ spark.job ── spark.stage   from the event log
        └─ writers.drain         end of the last pack stage → op end

Times are epoch seconds so the benchmark's clock and the JVM's event
timestamps (epoch milliseconds) line up.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

SCAN_NODE = "BatchScan readstat"
PACK_NODES = ("MapInArrow", "MapInPandas")
PY_OUT_METRIC = "data returned from Python workers"


# -- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """{span id: duration minus the part of its interval its direct
    children cover}."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.dur - union_length(((c.start, c.end) for c in kids.get(s.id, ())), s.start, s.end)
        for s in spans
    }


# -- event log ----------------------------------------------------------------


@dataclass
class Stage:
    id: int
    attempt: int
    tasks: int
    submit: float
    complete: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    acc_ids: set = field(default_factory=set)  # accumulators its tasks updated
    py_out_bytes: float = 0.0  # bytes the readstat scan returned from Python


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stage_ids: list


@dataclass
class EventLog:
    jobs: dict
    stages: list
    scan_ids: set  # accumulator ids of the readstat scan's metrics
    pack_ids: set  # accumulator ids of the executor pack operators' metrics

    def jobs_of(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stage_ids}
        return [s for s in self.stages if s.id in ids]


def _walk_plan(node, scan_ids, py_out_ids, pack_ids) -> None:
    name = node.get("nodeName", "")
    metrics = node.get("metrics", [])
    py_out_ids.update(m["accumulatorId"] for m in metrics if m["name"] == PY_OUT_METRIC)
    if name == SCAN_NODE or (name.startswith("BatchScan") and "readstat" in node.get("simpleString", "")):
        scan_ids.update(m["accumulatorId"] for m in metrics)
    elif name in PACK_NODES:
        pack_ids.update(m["accumulatorId"] for m in metrics)
    for child in node.get("children", []):
        _walk_plan(child, scan_ids, py_out_ids, pack_ids)


def _acc(accums: list, name: str, default=0):
    for a in accums:
        if a.get("Name") == name:
            return a.get("Value", default)
    return default


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def running_deltas(tasks) -> list[float]:
    """Per-task byte counts from a running total.

    Spark 4.1 reports the Python data source scan's "data returned from
    Python workers" as a running total over all scans in the JVM, not as
    the task's own bytes: tasks of one stage that end together report
    the same total. ``tasks`` is a list of (finish time, total); a task's
    bytes are how far its total passes the highest total reported by
    the tasks that finished before it. Returns the deltas in input
    order."""
    out = [0.0] * len(tasks)
    high = 0.0
    for i in sorted(range(len(tasks)), key=lambda i: tasks[i]):
        out[i] = max(tasks[i][1] - high, 0.0)
        high = max(high, tasks[i][1])
    return out


def parse_event_log(lines) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log (an iterable
    of JSON lines)."""
    jobs: dict[int, Job] = {}
    stages: list[Stage] = []
    task_list = []  # (stage key, launch, finish, {acc id: update})
    scan_ids: set = set()
    py_out_ids: set = set()
    pack_ids: set = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0, float("nan"), list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            info = ev.get("Task Info") or {}
            upd = {a["ID"]: _num(a.get("Update")) for a in info.get("Accumulables", [])}
            task_list.append((key, info.get("Launch Time", 0) / 1000.0, info.get("Finish Time", 0) / 1000.0, upd))
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            accums = si.get("Accumulables", [])
            stages.append(Stage(
                id=si["Stage ID"],
                attempt=si.get("Stage Attempt ID", 0),
                tasks=si["Number of Tasks"],
                submit=si["Submission Time"] / 1000.0,
                complete=si["Completion Time"] / 1000.0,
                run_s=_acc(accums, "internal.metrics.executorRunTime") / 1000.0,
                cpu_s=_acc(accums, "internal.metrics.executorCpuTime") / 1e9,
                gc_s=_acc(accums, "internal.metrics.jvmGCTime") / 1000.0,
                shuffle_write_bytes=int(_acc(accums, "internal.metrics.shuffle.write.bytesWritten")),
            ))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev["sparkPlanInfo"], scan_ids, py_out_ids, pack_ids)
    # a plan node ran in a stage when the stage's tasks updated its metrics
    updated: dict[tuple, set] = {}
    for key, _launch, _finish, upd in task_list:
        updated.setdefault(key, set()).update(i for i, v in upd.items() if v)
    # bytes the scan returned from Python, per stage, from the running total
    scan_py_ids = py_out_ids & scan_ids
    scan_py = [(key, finish, max(v for i, v in upd.items() if i in scan_py_ids))
               for key, _launch, finish, upd in task_list if any(i in scan_py_ids for i in upd)]
    py_bytes: dict[tuple, float] = {}
    for (key, _f, _t), delta in zip(scan_py, running_deltas([t[1:] for t in scan_py])):
        py_bytes[key] = py_bytes.get(key, 0.0) + delta
    for s in stages:
        s.acc_ids = updated.get((s.id, s.attempt), set())
        s.py_out_bytes = py_bytes.get((s.id, s.attempt), 0.0)
    return EventLog(jobs, stages, scan_ids, pack_ids)


def read_event_log(path: str) -> EventLog:
    with open(path) as fh:
        return parse_event_log(fh)


def _ran(stage: Stage, ids: set) -> bool:
    return not stage.acc_ids.isdisjoint(ids)


def op_figures(op: Span, log: EventLog, is_export: bool) -> tuple[dict, list[Span]]:
    """Layer figures of one operation, and the child spans (jobs,
    stages, drain) the event log adds to its span tree."""
    jobs = log.jobs_of(op.id)
    stages = log.stages_of(jobs)
    intervals = [(j.start, j.end) for j in jobs]
    covered = union_length(intervals, op.start, op.end)
    # job time outside the op interval: event-log ms rounding and clock
    # granularity; reported so the accounting tolerance is visible
    outside = union_length(intervals) - covered
    scan = [s for s in stages if _ran(s, log.scan_ids)]
    pack = [s for s in stages if _ran(s, log.pack_ids)]
    fig = {
        "wall_s": op.dur,
        "jobs": len(jobs),
        "job_union_s": covered,
        "job_outside_s": outside,
        "driver_gap_s": op.dur - covered,
        "tasks": sum(s.tasks for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "scan_stages": len(scan),
        "scan_task_run_s": sum(s.run_s for s in scan),
        "scan_jvm_cpu_s": sum(s.cpu_s for s in scan),
        "scan_python_out_mb": sum(s.py_out_bytes for s in scan) / 1e6,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 1e6,
        "task_run_s": sum(s.run_s for s in stages),
    }
    children: list[Span] = []
    by_stage = {s.id: s for s in stages}
    for j in jobs:
        jid = f"{op.id}/job{j.id}"
        children.append(Span(jid, "spark.job", j.start, j.end, op.id))
        for sid in j.stage_ids:
            s = by_stage.pop(sid, None)  # a stage shared by jobs ran once
            if s is not None:
                children.append(Span(f"{jid}/stage{s.id}.{s.attempt}", "spark.stage", s.submit, s.complete, jid,
                                     {"tasks": s.tasks, "run_s": s.run_s}))
    if is_export:
        # the sampling job of a range-partitioned export: scans the
        # input, writes no shuffle and packs nothing
        sample_jobs = []
        for j in jobs if pack else ():
            js = log.stages_of([j])
            if js and all(_ran(s, log.scan_ids) and not s.shuffle_write_bytes and not _ran(s, log.pack_ids)
                          for s in js):
                sample_jobs.append(j)
        pack_end = max((s.complete for s in pack), default=None)
        drain = op.end - pack_end if pack_end is not None else 0.0
        if pack_end is not None:
            children.append(Span(f"{op.id}/drain", "writers.drain", pack_end, op.end, op.id))
        fig.update({
            "input_scan_stages": len(scan),
            "sample_job_s": sum(j.end - j.start for j in sample_jobs),
            "pack_stage_run_s": sum(s.run_s for s in pack),
            "drain_s": drain,
        })
    return fig, children
