"""Benchmark-side spans and the Spark event-log parser.

Spans are recorded by the benchmark around each call into a layer's
public functions (nothing inside the library is traced). Each span has
a name, start and end (epoch milliseconds, the clock Spark's event log
uses), the span that caused it, and the operation id it belongs to.
Spans stay in memory and are written out when the run ends.

The event log is Spark's own (``spark.eventLog.enabled``, one plain
JSON file). Each job is attributed to the innermost span whose interval
contains the job's submission time, and to a library module by the
Python call site Spark records for the job (``callSite.short``).
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

# a span's job-covered time plus its driver time must equal its wall
# time within this tolerance: SUM_TOL_MS + SUM_TOL_FRAC * wall
SUM_TOL_MS = 25.0
SUM_TOL_FRAC = 0.02


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record one span; yields the span record, whose ``counts``
        dict the caller may fill with counts measured at this
        boundary. Disabled, the record has id None and is dropped."""
        counts: dict = {}
        if not self.enabled:
            yield {"id": None, "counts": counts}
            return
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent
                                             else None),
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
            "counts": counts,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self.spans.append(rec)


def wall_ms(span: dict) -> float:
    return span["end_ms"] - span["start_ms"]


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Summed self time per span name: a span's wall minus the part of
    its interval its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c["start_ms"], s["start_ms"]),
                 min(c["end_ms"], s["end_ms"]))
                for c in children.get(s["id"], [])]
        own = wall_ms(s) - union_ms([k for k in kids if k[1] > k[0]])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# -- Spark event log -----------------------------------------------------

_MODULE_RE = re.compile(r"(prosearch_spark|perfbench)/([\w/]+)\.py")


def call_site_module(call_site: str) -> str:
    """'collect at .../prosearch_spark/query/fielded.py:412' ->
    'query.fielded'; benchmark files map to 'perfbench'; anything
    else to 'other'."""
    m = _MODULE_RE.search(call_site or "")
    if not m:
        return "other"
    if m.group(1) == "perfbench":
        return "perfbench"
    return m.group(2).replace("/", ".")


@dataclass
class Job:
    job_id: int
    start_ms: float
    end_ms: float
    module: str
    stage_ids: list[int]
    stages_run: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    succeeded: bool = True


def read_event_log(path: str) -> list[dict]:
    """All events of a plain-JSON event log (a file, or a directory
    whose files are read in name order)."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    events = []
    for fp in files:
        with open(fp) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def parse_jobs(events: list[dict]) -> list[Job]:
    """Jobs with their stages and summed task metrics."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(job_id=e["Job ID"],
                    start_ms=float(e["Submission Time"]),
                    end_ms=float(e["Submission Time"]),
                    module=call_site_module(
                        e.get("Properties", {}).get("callSite.short", "")),
                    stage_ids=list(e.get("Stage IDs", [])))
            jobs[j.job_id] = j
            for sid in j.stage_ids:
                stage_job[sid] = j.job_id
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j.end_ms = float(e["Completion Time"])
                j.succeeded = (e.get("Job Result", {}).get("Result")
                               == "JobSucceeded")
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].stages_run += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e.get("Stage ID")
            if sid not in stage_job:
                continue
            j = jobs[stage_job[sid]]
            j.tasks += 1
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                j.failed_tasks += 1
            m = e.get("Task Metrics") or {}
            j.run_ms += m.get("Executor Run Time", 0)
            j.gc_ms += m.get("JVM GC Time", 0)
            j.input_bytes += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            j.shuffle_write_bytes += (m.get("Shuffle Write Metrics")
                                      or {}).get("Shuffle Bytes Written", 0)
            j.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], spans: list[dict]) -> dict[int, list[Job]]:
    """Span id -> jobs submitted inside it, each job given to the
    innermost (latest-starting) span containing its submission time."""
    out: dict[int, list[Job]] = {s["id"]: [] for s in spans}
    ordered = sorted(spans, key=lambda s: s["start_ms"])
    for j in jobs:
        best = None
        for s in ordered:
            if s["start_ms"] <= j.start_ms <= s["end_ms"]:
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        if best is not None:
            out[best["id"]].append(j)
    return out


def descendants(spans: list[dict], root_id: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [root_id], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def span_jobs(spans: list[dict], by_span: dict[int, list[Job]],
              span_id: int) -> list[Job]:
    """Jobs of a span and of every span below it."""
    return [j for sid in descendants(spans, span_id)
            for j in by_span.get(sid, [])]


def split_wall(span: dict, jobs: list[Job]) -> dict:
    """A span's wall split into job-covered time and driver time (the
    part no running job covers: planning, codegen, driver Python,
    collect). ``sum_ok`` checks that the jobs' unclipped covered time
    plus the driver time equals the wall within the stated tolerance,
    i.e. no attributed job ran outside its span."""
    w = wall_ms(span)
    clipped = [(max(j.start_ms, span["start_ms"]),
                min(j.end_ms, span["end_ms"])) for j in jobs]
    covered = union_ms([c for c in clipped if c[1] > c[0]])
    driver = w - covered
    unclipped = union_ms([(j.start_ms, j.end_ms) for j in jobs])
    tol = SUM_TOL_MS + SUM_TOL_FRAC * w
    return {"wall_ms": w, "covered_ms": covered, "driver_ms": driver,
            "sum_error_ms": abs(unclipped + driver - w), "tol_ms": tol,
            "sum_ok": abs(unclipped + driver - w) <= tol}


def session_metrics(spans: list[dict], by_span: dict[int, list[Job]],
                    op_span_ids: list[int], cores: int,
                    all_jobs: list[Job]) -> tuple[dict, list[dict]]:
    """The ``session.*`` per-op metrics over the given op spans, and
    each op span's wall split."""
    by_id = {s["id"]: s for s in spans}
    n = max(1, len(op_span_ids))
    tot = {"jobs": 0, "stages": 0, "driver": 0.0, "run": 0.0, "gc": 0.0,
           "in": 0, "sr": 0, "sw": 0, "spill": 0, "wall": 0.0}
    splits = []
    for sid in op_span_ids:
        jobs = span_jobs(spans, by_span, sid)
        sp = split_wall(by_id[sid], jobs)
        splits.append({"span": sid, **sp})
        tot["jobs"] += len(jobs)
        tot["stages"] += sum(j.stages_run for j in jobs)
        tot["driver"] += sp["driver_ms"]
        tot["wall"] += sp["wall_ms"]
        tot["run"] += sum(j.run_ms for j in jobs)
        tot["gc"] += sum(j.gc_ms for j in jobs)
        tot["in"] += sum(j.input_bytes for j in jobs)
        tot["sr"] += sum(j.shuffle_read_bytes for j in jobs)
        tot["sw"] += sum(j.shuffle_write_bytes for j in jobs)
        tot["spill"] += sum(j.spill_bytes for j in jobs)
    metrics = {
        "session.jobs_per_op": tot["jobs"] / n,
        "session.stages_per_op": tot["stages"] / n,
        "session.driver_ms_per_op": tot["driver"] / n,
        "session.task_ms_per_op": tot["run"] / n,
        "session.core_busy_frac": (tot["run"] / (tot["wall"] * cores)
                                   if tot["wall"] else 0.0),
        "session.gc_ms_per_op": tot["gc"] / n,
        "session.input_bytes_per_op": tot["in"] / n,
        "session.shuffle_read_bytes_per_op": tot["sr"] / n,
        "session.shuffle_write_bytes_per_op": tot["sw"] / n,
        "session.spill_bytes_per_op": tot["spill"] / n,
        "session.failed_tasks": sum(j.failed_tasks for j in all_jobs),
    }
    return metrics, splits


def jobs_by_module(spans: list[dict], by_span: dict[int, list[Job]],
                   span_ids: list[int]) -> dict[str, int]:
    """Count of jobs per call-site module under the given spans."""
    out: dict[str, int] = {}
    for sid in span_ids:
        for j in span_jobs(spans, by_span, sid):
            out[j.module] = out.get(j.module, 0) + 1
    return out
