"""Spans around library calls, and a plain-Python Spark event-log parser.

Used by ``run.py --trace 1`` only.  ``Tracer.wrap`` replaces a module
attribute with a wrapper that records a span (name, start, end, parent)
and sets a Spark job group for the span's duration, so every Spark job
can be attributed to the innermost span that launched it.  Spans stay in
memory; ``span_table`` and ``engine_metrics`` join them with the event
log after the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _set_group(self) -> None:
        if self.stack:
            gid = f"span-{self.stack[-1]}"
            self.sc.setJobGroup(gid, self.spans[self.stack[-1]]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self.stack[-1] if self.stack else None, **attrs}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self._set_group()
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t0 = time.perf_counter()
            self.stack.pop()
            self._set_group()
            self.overhead_s += time.perf_counter() - t0

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` with a traced version.  ``name`` is a
        span name or a function of the call's arguments returning one;
        ``after(span, args, kwargs)`` may add attributes to the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as s:
                out = fn(*args, **kwargs)
            if after is not None:
                after(s, args, kwargs)
            return out

        setattr(owner, attr, traced)


# ---------------------------------------------------------------- event log

_TASK_KEYS = (
    "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "python_bytes",
)
_PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


_SUM_KEYS = ("jobs", "stages", *_TASK_KEYS)


def _zero() -> dict:
    return dict.fromkeys(_SUM_KEYS, 0.0)


def read_event_log(event_dir: str) -> dict:
    """Parse the one uncompressed, non-rolling event log in
    ``event_dir`` into jobs (group, start, end, metrics) and SQL
    executions (start time, longest plan text)."""
    (name,) = os.listdir(event_dir)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, dict] = {}
    with open(os.path.join(event_dir, name), encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    **_zero(), "jobs": 1, "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000, "end": None,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                job = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"]))
                if job is not None:
                    job["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"]))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                job["tasks"] += 1
                job["exec_run_s"] += m["Executor Run Time"] / 1e3
                job["exec_cpu_s"] += m["Executor CPU Time"] / 1e9
                job["gc_s"] += m["JVM GC Time"] / 1e3
                job["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                job["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                job["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                job["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                job["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                for acc in e["Task Info"].get("Accumulables", []):
                    if acc.get("Name") in _PYTHON_ACCUMS:
                        job["python_bytes"] += float(acc.get("Update") or 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[e["executionId"]] = {
                    "start": e["time"] / 1000,
                    "plan_chars": len(e.get("physicalPlanDescription") or ""),
                }
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                s = sql.get(e["executionId"])
                if s is not None:
                    s["plan_chars"] = max(
                        s["plan_chars"], len(e.get("physicalPlanDescription") or "")
                    )
    return {"jobs": jobs, "sql": sql}


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def engine_metrics(log: dict, t0: float, t1: float) -> dict:
    """``spark.*`` totals over the jobs submitted in [t0, t1]."""
    jobs = [j for j in log["jobs"].values() if t0 <= j["start"] <= t1 and j["end"]]
    out = {f"spark.{k}": 0.0 for k in _SUM_KEYS}
    for j in jobs:
        for k in _SUM_KEYS:
            out[f"spark.{k}"] += j[k]
    out["spark.job_wall_s"] = union_s((j["start"], j["end"]) for j in jobs)
    out["spark.driver_only_s"] = (t1 - t0) - out["spark.job_wall_s"]
    plans = [s["plan_chars"] for s in log["sql"].values() if t0 <= s["start"] <= t1]
    out["spark.plan_chars_max"] = float(max(plans, default=0))
    return out


def span_table(spans: list[dict], log: dict) -> list[dict]:
    """Per span: duration, self time (duration minus child spans) and
    the Spark metrics of the jobs launched while it was innermost."""
    rows = []
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [c for c in spans if c["parent"] == s["id"]]
        row = {
            k: v for k, v in s.items() if k not in ("start", "end")
        } | {"s": dur, "self_s": dur - sum(c["end"] - c["start"] for c in kids)}
        row.update(_zero())
        for j in log["jobs"].values():
            if j["group"] == f"span-{s['id']}":
                for k in _SUM_KEYS:
                    row[k] += j[k]
        rows.append(row)
    return rows
