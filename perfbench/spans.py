"""Tracing for the benchmark's traced run.

Nothing here changes the program: spans are taken around calls into the
package's public functions from the benchmark's side, the Spark event
log is switched on through JVM system properties before a fresh
SparkContext starts, and streaming progress arrives through a listener
the benchmark registers.

- :class:`Tracer` keeps spans in memory (name, start, end, parent, and
  attributes) and computes each span's self time.
- :func:`patch` wraps ``sources.tables.load``, ``DataFrameReader.parquet``
  and the ``DataFrameWriter`` sinks so their calls become spans.
- :func:`progress_listener` builds a ``StreamingQueryListener`` that
  keeps every micro-batch progress record.
- :func:`parse_event_log` reduces an uncompressed event log to per-job
  records (submission time, stages, task counters).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from datetime import datetime


class Tracer:
    """In-memory spans; one thread, so spans nest strictly."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def with_self_time(self) -> list[dict]:
        """Spans with ``dur`` and ``self`` (duration minus the time its
        children cover; children never overlap in one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for s, c in zip(self.spans, child):
            dur = (s["end"] or s["start"]) - s["start"]
            out.append({**s, "dur": dur, "self": dur - c})
        return out

    def total(self, name: str, lo: float, hi: float, attr: tuple | None = None) -> tuple[int, float]:
        """(count, seconds) of spans called ``name`` that start in [lo, hi)."""
        n, secs = 0, 0.0
        for s in self.spans:
            if s["name"] != name or not lo <= s["start"] < hi or s["end"] is None:
                continue
            if attr is not None and s.get(attr[0]) != attr[1]:
                continue
            n += 1
            secs += s["end"] - s["start"]
        return n, secs

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.with_self_time(), f)


def _wrap(owner, attr: str, tracer: Tracer, name: str, tag=None):
    orig = getattr(owner, attr)

    def wrapped(*args, **kwargs):
        with tracer.span(name, **(tag(args) if tag else {})):
            return orig(*args, **kwargs)

    setattr(owner, attr, wrapped)
    return lambda: setattr(owner, attr, orig)


def patch(tracer: Tracer) -> list:
    """Wrap the layer boundaries the traced run measures; returns undo
    callables. A write's ``sink`` is the last part of its path when that
    is one of the ETL's ``good``, ``bad`` or ``stats`` sinks."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from banking_data_etl_pipeline_spark.sources import tables

    def sink(args):
        base = os.path.basename(str(args[1]).rstrip("/")) if len(args) > 1 else ""
        return {"sink": base if base in ("good", "bad", "stats") else "other"}

    return [
        _wrap(tables, "load", tracer, "sources.load"),
        _wrap(DataFrameReader, "parquet", tracer, "sources.parquet"),
        _wrap(DataFrameWriter, "json", tracer, "sinks.write", sink),
        _wrap(DataFrameWriter, "parquet", tracer, "sinks.write", sink),
    ]


def progress_listener():
    """A StreamingQueryListener that records every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            state = p.stateOperators or []
            self.events.append(
                {
                    "run": str(p.runId),
                    "start": datetime.fromisoformat(p.timestamp).timestamp(),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "dur_s": p.batchDuration / 1000.0,
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "state_bytes": sum(s.memoryUsedBytes for s in state),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


# ------------------------------------------------------------- event log

def _ms(v) -> float:
    return (v or 0) / 1000.0


def parse_event_log(log_dir: str) -> list[dict]:
    """Per-job records from every event-log file under ``log_dir``.

    Each record: ``submit`` (epoch s), ``stages``, ``tasks``,
    ``run_s`` (summed executor run time), ``cpu_s``, ``gc_s``,
    ``input_bytes``, ``shuffle_read_bytes``, ``shuffle_write_bytes``,
    ``spill_bytes`` and ``skew`` (max over median task run time of its
    worst stage)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    task_times: dict[int, list[float]] = {}
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    ]
    for path in sorted(files):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "job": jid,
                        "submit": _ms(ev.get("Submission Time")),
                        "stages": len(ev.get("Stage IDs", [])),
                        "tasks": 0,
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "input_bytes": 0,
                        "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                        "skew": 1.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    run = _ms(m.get("Executor Run Time"))
                    job["run_s"] += run
                    job["cpu_s"] += (m.get("Executor CPU Time") or 0) / 1e9
                    job["gc_s"] += _ms(m.get("JVM GC Time"))
                    job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    task_times.setdefault(ev["Stage ID"], []).append(run)
    for sid, times in task_times.items():
        med = statistics.median(times)
        if len(times) > 1 and med > 0:
            job = jobs[stage_job[sid]]
            job["skew"] = max(job["skew"], max(times) / med)
    return sorted(jobs.values(), key=lambda j: j["submit"])
