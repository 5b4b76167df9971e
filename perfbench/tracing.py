"""Spans around the benchmark's calls into the engine, and the fold that
joins them with Spark's event log into per-layer metrics.

A span is (name, op, start, end) in epoch milliseconds, kept in memory and
folded once at the end. Each timed op runs in its own Spark job group
(``op<N>``), and each set-up phase in ``setup:<phase>``, so the event log's
jobs, stages and tasks fold back onto the op or phase that caused them.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self.op: str | None = None

    def group(self, gid: str) -> None:
        """Start a new job group; spans recorded from here belong to it."""
        self.op = gid
        if self.enabled:
            self.spark.sparkContext.setJobGroup(gid, gid)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append({"name": name, "op": self.op, "start": start, "end": time.time() * 1000.0})

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.setdefault(name, []).append(float(value))



# ------------------------------------------------------------- event log

_ROLL = re.compile(r"^events_(\d+)_")


def event_log_files(log_dir: str) -> list[str]:
    """Every rolling event-log part under ``log_dir`` in write order: the
    ``eventlog_v2_<app>/events_<N>_<app>`` files sorted by N."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [(int(m.group(1)), p) for p in os.listdir(path) if (m := _ROLL.match(p))]
            out.extend(os.path.join(path, p) for _, p in sorted(parts))
    return out


def read_events(path: str):
    """Yield the JSON events of one log file; a ``.zstd`` part (Spark's
    default codec when ``spark.eventLog.compress=true``) is decoded with
    pyarrow's zstd stream."""
    import io

    if path.endswith(".zstd"):
        import pyarrow as pa

        stream = io.StringIO(pa.input_stream(path, compression="zstd").read().decode("utf-8"))
    else:
        stream = open(path, encoding="utf-8")
    with stream:
        for line in stream:
            if line.strip():
                yield json.loads(line)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


SPARK_FIELDS = (
    "jobs", "stages", "tasks", "in_jobs_ms", "driver_gap_ms", "executor_cpu_ms",
    "gc_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


def fold_groups(events, group_span_ms: dict[str, tuple[float, float]]) -> tuple[dict, dict]:
    """Per job group: the Spark engine's work, and the part of the group's
    span that no job covered (``driver_gap_ms``). Also returns each group's
    job intervals, clipped to its span."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    stages_seen: dict[str, set] = {}
    per: dict[str, dict] = {g: dict.fromkeys(SPARK_FIELDS, 0.0) for g in group_span_ms}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {"group": gid, "start": ev["Submission Time"], "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev.get("Stage ID"))
            if gid not in per:
                continue
            row = per[gid]
            row["tasks"] += 1
            stages_seen.setdefault(gid, set()).add((ev.get("Stage ID"), ev.get("Stage Attempt ID", 0)))
            m = ev.get("Task Metrics") or {}
            row["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            row["gc_ms"] += m.get("JVM GC Time", 0)
            row["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    intervals: dict[str, list] = {}
    for job in jobs.values():
        gid = job["group"]
        if gid in per and job["end"] is not None:
            per[gid]["jobs"] += 1
            s, e = group_span_ms[gid]
            lo, hi = max(job["start"], s), min(job["end"], e)
            if hi > lo:
                intervals.setdefault(gid, []).append((lo, hi))
    for gid, row in per.items():
        s, e = group_span_ms[gid]
        row["stages"] = float(len(stages_seen.get(gid, ())))
        row["in_jobs_ms"] = _union_ms(intervals.get(gid, []))
        row["driver_gap_ms"] = max(0.0, (e - s) - row["in_jobs_ms"])
    return per, intervals


#: set-up phases whose spans are per-layer figures (the traced ingest batch)
MEASURED_PHASES = ("setup:ingest",)


def fold(trace: dict, log_dir: str, class_of_group: dict[str, str]) -> dict[str, float]:
    """Per-layer metrics from one traced run.

    Span figures come only from the timed ops (the groups in
    ``class_of_group``) and ``MEASURED_PHASES``; warm-up calls and the
    benchmark's own reference calls run in other groups and are left out.

    - ``<span>_ms``: median duration of each named span over the ops that
      made it (a phase's spans, which run once, keep their single value);
    - ``<span>.self_ms``: the same, minus what child spans and Spark jobs
      cover of it;
    - ``spark.<class>.<field>``: median per op of the class (SPARK_FIELDS);
    - each recorded count: its median.
    """
    spans = trace["spans"]
    group_span: dict[str, tuple[float, float]] = {}
    for s in spans:
        if s["op"] is None:
            continue
        lo, hi = group_span.get(s["op"], (s["start"], s["end"]))
        group_span[s["op"]] = (min(lo, s["start"]), max(hi, s["end"]))
    events = (ev for path in event_log_files(log_dir) for ev in read_events(path))
    per_group, job_intervals = fold_groups(events, group_span)

    out: dict[str, float] = {}
    by_class: dict[str, dict[str, list[float]]] = {}
    for gid, row in per_group.items():
        cls = class_of_group.get(gid)
        if cls is None:
            continue
        for k, v in row.items():
            by_class.setdefault(cls, {}).setdefault(k, []).append(v)
    for cls, fields in by_class.items():
        for k, vals in fields.items():
            out[f"spark.{cls}.{k}"] = statistics.median(vals)

    durations: dict[str, list[float]] = {}
    selfs: dict[str, list[float]] = {}
    by_op: dict[str, list[dict]] = {}
    for s in spans:
        if s["op"] in class_of_group or s["op"] in MEASURED_PHASES:
            by_op.setdefault(s["op"], []).append(s)
    for op, op_spans in by_op.items():
        for s in op_spans:
            d = s["end"] - s["start"]
            kids = [
                (c["start"], c["end"]) for c in op_spans
                if c is not s and c["start"] >= s["start"] and c["end"] <= s["end"] and (c["end"] - c["start"]) < d
            ]
            kids += [
                (max(lo, s["start"]), min(hi, s["end"])) for lo, hi in job_intervals.get(op, [])
                if min(hi, s["end"]) > max(lo, s["start"])
            ]
            durations.setdefault(s["name"], []).append(d)
            selfs.setdefault(s["name"], []).append(max(0.0, d - _union_ms(kids)))
    for name, vals in durations.items():
        out[f"{name}_ms"] = statistics.median(vals)
        out[f"{name}.self_ms"] = statistics.median(selfs[name])
    for name, vals in trace.get("counts", {}).items():
        out[name] = statistics.median(vals)
    return out
