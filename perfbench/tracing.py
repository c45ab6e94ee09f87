"""Spans around the benchmark's calls into the library, and Spark
event-log task metrics attributed to them.

A span records name, start, end, parent and trace id. While a span is
open its id is the Spark job group, so every job the span causes can be
found again in the event log. Micro-batch jobs of a streaming query are
attributed by the ``streaming.sql.batchId`` property Spark sets on them.
Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

#: physical operators that run a pandas / Arrow Python UDF; a stage
#: holding one of them counts towards ``python_stage_run_s``
PYTHON_NODES = (
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "AggregateInPandas",
    "WindowInPandas",
)

#: per-span metrics, in the order they are reported
SPAN_METRICS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("run_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("python_stage_run_s", "s"),
    ("driver_gap_s", "s"),
)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: int):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "trace": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def parse_eventlog(path: Path) -> tuple[dict, dict]:
    """(jobs, stages) from an uncompressed Spark event log.

    jobs[id] = {group, batch, t0, t1, stages}; stages[id] = {tasks,
    run_ms, gc_ms, shuffle_write, shuffle_read, spill, python}. Only
    stages that ran tasks appear (skipped stages are reused output)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "batch": props.get("streaming.sql.batchId"),
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                scopes = " ".join(str(r.get("Scope", "")) for r in info.get("RDD Info", []))
                st = _stage(stages, info["Stage ID"])
                st["python"] = any(n in scopes for n in PYTHON_NODES)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = _stage(stages, ev["Stage ID"])
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
    return jobs, {k: v for k, v in stages.items() if v["tasks"]}


def _stage(stages: dict, sid: int) -> dict:
    if sid not in stages:
        stages[sid] = {
            "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
            "shuffle_read": 0, "spill": 0, "python": False,
        }
    return stages[sid]


def interval_metrics(t0: float, t1: float, job_ids, jobs: dict, stages: dict) -> dict:
    """The SPAN_METRICS of one interval [t0, t1] and the jobs it caused."""
    job_ids = [j for j in job_ids if jobs[j]["t1"] is not None]
    stage_ids = sorted({s for j in job_ids for s in jobs[j]["stages"] if s in stages})
    st = [stages[s] for s in stage_ids]
    covered, end = 0.0, None
    for a, b in sorted((max(jobs[j]["t0"], t0), min(jobs[j]["t1"], t1)) for j in job_ids):
        if end is not None and a < end:
            a = end
        if b > a:
            covered += b - a
            end = b
    mb = 1024.0**2
    return {
        "wall_s": t1 - t0,
        "jobs": len(job_ids),
        "stages": len(st),
        "tasks": sum(s["tasks"] for s in st),
        "run_s": sum(s["run_ms"] for s in st) / 1000.0,
        "gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in st) / mb,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in st) / mb,
        "spill_mb": sum(s["spill"] for s in st) / mb,
        "python_stage_run_s": sum(s["run_ms"] for s in st if s["python"]) / 1000.0,
        "driver_gap_s": max(0.0, (t1 - t0) - covered),
    }


def span_family(prefix: str, per_interval: list[dict]) -> dict:
    """Median of each SPAN_METRICS field over the intervals of one span
    name, keyed ``<prefix>.<field>``; zeros when the layer did not run."""
    out = {}
    for field, _ in SPAN_METRICS:
        vals = [m[field] for m in per_interval]
        out[f"{prefix}.{field}"] = float(statistics.median(vals)) if vals else 0.0
    return out


def spans_metrics(spans: list[dict], name: str, jobs: dict, stages: dict) -> list[dict]:
    by_group: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        by_group.setdefault(j["group"], []).append(jid)
    return [
        interval_metrics(s["start"], s["end"], by_group.get(f"span-{s['id']}", []), jobs, stages)
        for s in spans
        if s["name"] == name
    ]
