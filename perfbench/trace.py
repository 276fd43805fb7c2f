"""Tracing from outside the engine.

- :class:`Tracer` records one span per public call the benchmark makes
  (name, start, end, parent span, operation id), kept in memory and
  written out when the run ends. Self time is a span's duration minus
  the part of it its child spans cover.
- :func:`patched` wraps module attributes for the traced run only, at
  the name the caller looks up (``pipelines.job`` imports its sources,
  cleaners and CSV sink by name), so no engine file changes.
- :func:`job_counts` reads Spark's status tracker for one job group.
- :func:`fold_event_log` folds Spark's own (uncompressed, non-rolling)
  event log into per-job-group numbers.
- :func:`planning_ms` reads a DataFrame's QueryPlanningTracker.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def with_self_times(self) -> list[dict]:
        """Spans with ``dur`` and ``self`` (seconds) filled in."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = union_length(
                [(c["start"], c["end"]) for c in children[s["id"]]]
            )
            out.append(dict(s, dur=dur, self=dur - covered))
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``getattr(module, attr)`` in a span named ``span`` for each
    ``(module, attr, span)`` while the block runs; restore afterwards."""
    saved = []
    try:
        for mod, attr, name in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, tracer.wrap(name, orig))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran for one job group."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in list(info.stageIds):
            stages += 1
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def planning_ms(df) -> float:
    """Catalyst analysis + optimization + planning time (ms) for ``df``,
    as its QueryPlanningTracker reports after forcing the physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        if got.isDefined():
            total += got.get().durationMs()
    return float(total)


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"

FOLD_KEYS = (
    "jobs", "stages", "tasks", "job_wall_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "python_bytes", "python_run_s",
)


def fold_event_log(path: str) -> dict[str, dict]:
    """Per-job-group totals from an uncompressed Spark event log.

    Jobs are attributed to the ``spark.jobGroup.id`` property of their
    JobStart event, stages to their job, and task metrics to their
    stage. ``job_wall_s`` is the union of the group's job intervals;
    ``python_bytes`` sums the Python-worker traffic SQL metrics, and
    ``python_run_s`` their worker run time where Spark records it."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list] = defaultdict(list)
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FOLD_KEYS, 0))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", "")
                jid = ev["Job ID"]
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"] / 1000.0
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    intervals[job_group[jid]].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_group:
                    out[stage_group[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                acc = out[group]
                acc["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = a.get("Name"), a.get("Update")
                    if upd is None:
                        continue
                    if name in (_PY_SENT, _PY_RECV):
                        acc["python_bytes"] += int(upd)
                    elif name == _PY_RUN:
                        acc["python_run_s"] += int(upd) / 1e3
    for group, ivs in intervals.items():
        out[group]["job_wall_s"] = union_length(ivs)
    return dict(out)
