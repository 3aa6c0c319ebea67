"""In-memory spans and Spark event-log attribution for the traced run.

A span is (name, start, end, parent, run id), wall-clock seconds since the
epoch so it can be matched against the event log's millisecond stamps.
Each span sets "<run id>/<name>" as the Spark job description of the
thread that opens it; the event log then names, per job, the span it ran
under. A job without a description (a thread that never set one) is given
to the innermost span whose time window holds the job's submission time.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            # a pool thread: its spans hang under the root span
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        with self._lock:
            idx = len(self.spans)
            self.spans.append({
                "name": name, "start": time.time(), "end": None,
                "parent": parent, "run_id": self.run_id,
            })
        if self._root is None:
            self._root = idx
        stack.append(idx)
        self.sc.setJobDescription(self.description(name))
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.time()
            self.sc.setJobDescription(
                self.description(self.spans[stack[-1]]["name"]) if stack else None
            )

    def description(self, name: str) -> str:
        return f"{self.run_id}/{name}"

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(s["name"] == name for s in self.spans)

    def coverage(self) -> float:
        """Share of the root span's wall time covered by its children."""
        root = self.spans[0]
        ivs = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == 0
        )
        covered, edge = 0.0, root["start"]
        for a, b in ivs:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return covered / max(root["end"] - root["start"], 1e-9)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every log file under `log_dir` (Spark 4 writes a
    rolling `eventlog_v2_*` directory; older layouts write one file)."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(root, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return {
        "stage": ev["Stage ID"],
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "records_in": inp.get("Records Read", 0),
        "failed": bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
        "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
    }


def attribute(events: list[dict], tracer: Tracer) -> dict[str, list[dict]]:
    """span name -> task records of every job that ran under that span."""
    spans = tracer.spans
    names = {tracer.description(s["name"]): s["name"] for s in spans}
    stage_job: dict[int, int] = {}
    job_span: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        jid = ev["Job ID"]
        for sid in ev.get("Stage IDs", []):
            stage_job.setdefault(sid, jid)
        desc = (ev.get("Properties") or {}).get("spark.job.description")
        if desc in names:
            job_span[jid] = names[desc]
            continue
        t = ev["Submission Time"] / 1000.0
        inner = [s for s in spans if s["start"] <= t <= s["end"]]
        if inner:
            job_span[jid] = max(inner, key=lambda s: s["start"])["name"]
    out: dict[str, list[dict]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev["Stage ID"])
        if jid in job_span:
            rec = _task_record(ev)
            rec["job"] = jid
            out.setdefault(job_span[jid], []).append(rec)
    return out


def engine_metrics(tasks: list[dict]) -> dict[str, float]:
    """The spark.* layer metrics over one set of task records."""
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    skew = 1.0
    if by_stage:
        heavy = max(by_stage.values(), key=lambda ts: sum(t["run_ms"] for t in ts))
        durs = [max(t["dur_ms"], 1) for t in heavy]
        skew = max(durs) / statistics.median(durs)
    return {
        "spark.jobs": len({t["job"] for t in tasks}),
        "spark.stages": len(by_stage),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.task_skew": skew,
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
    }
