"""Spans around the program's public functions, and Spark's event log.

Spans are recorded from outside the package: ``install`` replaces the
layers' public functions with timing wrappers, in their defining module
and in every module that imported the name. Spans live in memory until
the run ends. A Spark job belongs to the innermost span open when it was
submitted: jobs of a streaming ``foreachBatch`` run on the stream's own
thread, where a job group set by the caller would not reach them, but
their submission times still fall inside the caller's span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time


class Tracer:
    """Span recorder. Disabled, ``span`` is a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent]["trace"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "trace": trace,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, also=()) -> None:
        """Time every call of ``owner.attr`` as span ``name`` and keep its
        return value on the span; ``also`` lists modules that imported the
        same function by name. Only for an enabled tracer."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                rec["result"] = fn(*args, **kwargs)
                return rec["result"]

        for target in (owner, *also):
            setattr(target, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the layers' public functions the workloads reach."""
    import __spark_entry__
    from csv_crm_upload_spark.operators import store
    from csv_crm_upload_spark.plans import ingest
    from csv_crm_upload_spark.sources import tables
    from csv_crm_upload_spark.streaming import pipeline

    tracer.wrap(ingest, "ingest_batch", "ingest.ingest_batch", also=(pipeline,))
    tracer.wrap(store.CustomerStore, "append_unique", "store.append_unique")
    tracer.wrap(store.CustomerStore, "mark_uploaded", "store.mark_uploaded")
    tracer.wrap(tables, "load_table", "tables.load_table", also=(__spark_entry__,))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from an uncompressed Spark event log (plain JSON lines; Spark 4
    writes a rolling ``eventlog_v2_*/events_*`` directory). Each job:
    submit/end epoch seconds, stages run, tasks, and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0, "end": None, "stages": 0,
                                 "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                                 "shuffle_write_bytes": 0, "spill_bytes": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if jid is None:
                        continue
                    job = jobs[jid]
                    job["tasks"] += 1
                    job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return [dict(job, id=jid) for jid, job in sorted(jobs.items())]


def assign_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Give each span ``jobs``: the jobs submitted inside it and outside
    any of its children (event-log times are whole milliseconds)."""
    for s in spans:
        s["jobs"] = []
    for job in jobs:
        best = None
        for s in spans:
            if s["start"] - 1e-3 <= job["submit"] <= s["end"] + 1e-3:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            best["jobs"].append(job)


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, inclusive and self seconds, inclusive jobs."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def inclusive_jobs(s: dict) -> list[dict]:
        out = list(s["jobs"])
        for c in children.get(s["id"], []):
            out.extend(inclusive_jobs(c))
        return out

    table: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        child = sum(c["end"] - c["start"] for c in children.get(s["id"], []))
        jobs = inclusive_jobs(s)
        row = table.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0,
                                           "single_task_jobs": 0, "durations": []})
        row["calls"] += 1
        row["s"] += dur
        row["self_s"] += dur - child
        row["jobs"] += len(jobs)
        row["single_task_jobs"] += sum(1 for j in jobs if j["tasks"] == 1)
        row["durations"].append(dur)
    for row in table.values():
        row["median_s"] = statistics.median(row.pop("durations"))
    return table


def format_table(table: dict[str, dict]) -> str:
    lines = [f"{'span':<44}{'calls':>6}{'total_s':>10}{'self_s':>10}{'median_s':>10}{'jobs':>7}"]
    for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:<44}{r['calls']:>6}{r['s']:>10.3f}{r['self_s']:>10.3f}"
                     f"{r['median_s']:>10.4f}{r['jobs']:>7}")
    return "\n".join(lines)
