"""Spans recorded around the calls into each layer, and Spark's own
event log folded onto them.

Spans come only from the benchmark's files: a span is opened around a
public call (a registry query, ``StageRecorder.run_stage``, a
``Warehouse`` or ``TwoTierState`` method) and, where the call runs on
the caller's thread, it tags the Spark jobs with ``setJobGroup`` so the
event log can be folded back onto the span.  Micro-batch jobs run on
the stream's own thread, whose job group Spark sets to the stream's
run id; they are folded onto that.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    """In-memory spans: name, start, end, parent and run id."""

    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._group: str | None = None
        self.own_s = 0.0  # time spent in span bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, job_group: str | None = None, **attrs):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        outer = self._group
        if job_group is not None:
            self._set_group(job_group)
        self.own_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if job_group is not None:  # the enclosing span's group again
                self._set_group(outer)
            self.own_s += time.perf_counter() - t1

    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)


@contextlib.contextmanager
def patched(cls, wrappers: dict):
    """Replace methods of ``cls`` for the duration: ``wrappers`` maps a
    method name to a function of the original method that returns its
    replacement."""
    orig = {n: getattr(cls, n) for n in wrappers}
    for n, wrap in wrappers.items():
        setattr(cls, n, wrap(orig[n]))
    try:
        yield
    finally:
        for n, f in orig.items():
            setattr(cls, n, f)


def event_log_cpu_s(jvm) -> float:
    """CPU seconds of the driver thread that writes Spark's event log:
    the listener group ``eventLog`` serializes every event to JSON and
    writes it out, off the threads that run the program."""
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    for t in jvm.java.lang.Thread.getAllStackTraces().keySet().toArray():
        if t.getName() == "spark-listener-group-eventLog":
            return mx.getThreadCpuTime(t.getId()) / 1e9
    return 0.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the part its child spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    files = [
        f for f in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(f)
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def fold(events: list[dict], key_of) -> dict[str, dict]:
    """Task metrics folded onto keys: ``key_of(job_properties)`` names
    the key a job belongs to (None drops it).  Per key: jobs, executed
    stages, task seconds, shuffle bytes written, bytes spilled, peak
    task memory, each task's run time and the task intervals (epoch
    seconds)."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(key):
        return out.setdefault(
            key,
            {"jobs": 0, "stages": 0, "task_s": 0.0, "shuffle_write_b": 0,
             "spill_b": 0, "peak_mem_b": 0, "run_s": [], "tasks": []},
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = key_of(ev.get("Properties") or {})
            if key is None:
                continue
            acc(key)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = key
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                acc(key)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            if key is None:
                continue
            a = acc(key)
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            a["task_s"] += run_s
            a["run_s"].append(run_s)
            a["shuffle_write_b"] += (
                tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
            )
            a["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            a["peak_mem_b"] = max(
                a["peak_mem_b"], tm.get("Peak Execution Memory", 0)
            )
            a["tasks"].append(
                (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
            )
    return out


def task_skew(run_s: list[float]) -> float:
    """Longest task over the median task (1.0 for an even stage)."""
    if not run_s:
        return 0.0
    mid = statistics.median(run_s)
    return max(run_s) / mid if mid > 0 else 1.0


SCAN_METRICS = {"scan time": "scan_ms", "number of files read": "files",
                "size of files read": "bytes",
                "number of output rows": "rows"}


def scans(events: list[dict], path_part: str, key_of) -> dict[str, dict]:
    """The SQL metrics of parquet scans whose location contains
    ``path_part``, folded onto keys: ``key_of(job_properties)`` names
    the key of the SQL execution the job runs for.  Per key: scan time
    (task side), files and bytes read (driver side) and rows out."""
    acc: dict[int, tuple[int, str]] = {}  # accumulator id -> (exec, what)

    def walk(node, exec_id):
        loc = (node.get("metadata") or {}).get("Location", "")
        if node["nodeName"].startswith("Scan parquet") and path_part in loc:
            for m in node["metrics"]:
                if m["name"] in SCAN_METRICS:
                    acc[m["accumulatorId"]] = (exec_id, SCAN_METRICS[m["name"]])
        for c in node["children"]:
            walk(c, exec_id)

    exec_key: dict[int, str] = {}
    value: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            walk(ev["sparkPlanInfo"], ev["executionId"])
        elif kind.endswith("DriverAccumUpdates"):
            for aid, v in ev["accumUpdates"]:
                if aid in acc:
                    value[aid] = max(value.get(aid, 0), int(v))
        elif kind == "SparkListenerTaskEnd":
            for a in ev["Task Info"].get("Accumulables", []):
                if a["ID"] in acc:
                    value[a["ID"]] = value.get(a["ID"], 0) + int(a["Update"])
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid, key = props.get("spark.sql.execution.id"), key_of(props)
            if eid is not None and key is not None:
                exec_key[int(eid)] = key
    out: dict[str, dict] = {}
    for aid, (eid, what) in acc.items():
        key = exec_key.get(eid)
        if key is None:
            continue
        o = out.setdefault(key, dict.fromkeys(SCAN_METRICS.values(), 0))
        o[what] += value.get(aid, 0)
    return out


def driver_gap_s(windows: list[tuple[float, float]], tasks) -> float:
    """Wall time inside ``windows`` during which none of ``tasks`` runs."""
    gap = 0.0
    for a, b in windows:
        inside = [
            (max(a, s), min(b, e)) for s, e in tasks if e > a and s < b
        ]
        gap += (b - a) - _union_s(inside)
    return gap
