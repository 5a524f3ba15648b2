"""Spans recorded around the benchmark's calls into the engine, and the
Spark event-log parser that attributes task and SQL metrics to them.

Spans live in memory (``Tracer.spans``) and are written once, when the
run ends.  Each span sets its name as the Spark job group, so every job
it launches can be found again in the event log.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

# prefix of every job group a traced span sets; count jobs made after the
# timed passes use COUNT_GROUP so they never mix into the pass metrics
GROUP_PREFIX = "pb:"
COUNT_GROUP = "pbcount"


class Tracer:
    """Collects (id, name, start, end, parent) spans.  ``enabled=False``
    makes ``span`` a no-op, so untraced passes pay nothing."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(GROUP_PREFIX + name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self._set_group(self._stack[-1]["name"] if self._stack else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def self_time(spans: list[dict], span_id: int) -> float:
    """A span's duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    me = spans[span_id]
    kids = sorted(
        (max(s["start"], me["start"]), min(s["end"], me["end"]))
        for s in spans
        if s["parent"] == span_id
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (me["end"] - me["start"]) - covered


# SQL metrics of the Python-UDF evaluation nodes (ArrowEvalPython,
# MapInPandas, ...), as task accumulables.  In Spark 4.1 the run time is a
# "timing" SQL metric, in milliseconds (the plan's metricType; a task's
# value stays below its Executor Run Time, also in ms); the data metrics
# are "size" metrics, in bytes
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def parse_event_log(path: str | Path) -> dict[str, dict]:
    """Uncompressed, non-rolling Spark event log -> per-job-group totals.

    Per group: jobs, stages, tasks, task_s (executor run time), task_cpu_s,
    gc_s, shuffle_write_b, shuffle_read_b, spill_b, the task durations
    (for skew), and the ArrowEvalPython metrics python_s, python_sent_b
    and python_returned_b.  Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0, "stages": set(), "tasks": 0, "task_s": 0.0,
                "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0,
                "shuffle_read_b": 0, "spill_b": 0, "task_durations": [],
                "python_s": 0.0, "python_sent_b": 0, "python_returned_b": 0,
            },
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                name = props.get("spark.jobGroup.id") or ""
                rec = g(name)
                rec["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = name
                    rec["stages"].add(sid)
            elif kind == "SparkListenerTaskEnd":
                rec = g(stage_group.get(ev.get("Stage ID"), ""))
                tm = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                rec["tasks"] += 1
                run_ms = tm.get("Executor Run Time", 0)
                rec["task_s"] += run_ms / 1e3
                rec["task_durations"].append(run_ms / 1e3)
                rec["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                rec["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in info.get("Accumulables", []):
                    metric = acc.get("Name")
                    if metric == _PY_TIME:
                        rec["python_s"] += int(acc["Update"]) / 1e3
                    elif metric == _PY_SENT:
                        rec["python_sent_b"] += int(acc["Update"])
                    elif metric == _PY_RETURNED:
                        rec["python_returned_b"] += int(acc["Update"])
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
    return groups


def find_event_log(log_dir: str | Path) -> Path:
    """The single finished application log in ``log_dir``."""
    logs = [p for p in Path(log_dir).iterdir() if not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
