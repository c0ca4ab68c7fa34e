"""Per-layer numbers of a traced run, named after the repo's modules.

``per_layer`` turns the spans, Spark's event log, the mock CRM's counters
and the store's files into the per-layer metrics. A traced run prints
them all; the subset in ``REPORTED`` goes into the result JSON and
BENCHMARK.json. It is the same for every workload, so it leaves out the
times of layers that one workload never reaches: those would read 0 on
every run of that workload.
"""

from __future__ import annotations

import json
import os

import spans as sp
from bench import HEADLINE as HEADLINE_QUERIES

REPORTED = {
    "session.start_s": "s", "session.job_floor_s": "s",
    "spark.jobs": "count", "spark.single_task_jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "ingest.jobs": "count", "store.append_unique_jobs": "count",
    "store.mark_uploaded_jobs": "count", "store.buckets_rewritten": "count",
    "store.commits": "count", "store.files_latest": "count", "store.bytes_per_user_byte": "ratio",
    "http.posts": "count", "http.posts_per_customer": "ratio", "http.connections_per_post": "ratio",
    "cycle.jobs": "count", "cycle.quiet_jobs": "count",
    "tables.loads": "count", "tables.load_jobs": "count",
    "mem.peak_rss_mb": "MB", "mem.jvm_mb": "MB", "mem.driver_python_mb": "MB",
    "mem.python_workers_mb": "MB",
    **{f"q.{q}.jobs": "count" for q in HEADLINE_QUERIES},
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def store_files(root: str) -> dict[str, float]:
    """Commits, files, rewritten buckets and bytes on disk (hard-linked
    files counted once) of a CustomerStore directory."""
    versions = sorted(d for d in os.listdir(root) if d[:1] == "v" and d[1:].isdigit())
    sizes: dict[int, int] = {}
    prev: dict[str, frozenset] | None = None
    rewritten = commits = files_latest = 0
    for v in versions:
        vdir = os.path.join(root, v)
        buckets = {}
        for b in (n for n in os.listdir(vdir) if n.startswith("b=")):
            stats = [os.stat(os.path.join(vdir, b, f)) for f in os.listdir(os.path.join(vdir, b))
                     if f.endswith(".parquet")]
            buckets[b] = frozenset(s.st_ino for s in stats)
            sizes.update((s.st_ino, s.st_size) for s in stats)
        op = None
        if os.path.exists(os.path.join(vdir, "_COMMIT.json")):
            commits += 1
            with open(os.path.join(vdir, "_COMMIT.json")) as f:
                op = json.load(f).get("operation")
        if op == "update" and prev is not None:
            rewritten += sum(1 for b, inodes in buckets.items() if prev.get(b) != inodes)
        prev = buckets
        files_latest = sum(len(i) for i in buckets.values())
    return {"store.commits": commits, "store.versions_on_disk": len(versions),
            "store.files_latest": files_latest, "store.buckets_rewritten": rewritten,
            "store.bytes_on_disk": sum(sizes.values())}


def http_stats(crm: dict, ticks: list[dict]) -> dict[str, float]:
    """What the mock CRM saw of the HTTP sink."""
    posts = crm["requests"]
    attempts = crm["attempts"]
    retry_gap = 0.0
    for tries in attempts.values():
        for (t0, code), (t1, _) in zip(tries, tries[1:]):
            if code != 201:
                retry_gap += t1 - t0
    window = 0.0
    times = sorted(t for tries in attempts.values() for t, _ in tries)
    for tk in ticks:
        inside = [t for t in times if tk["start"] <= t <= tk["end"]]
        if inside:
            window += inside[-1] - inside[0]
    return {"http.posts": posts,
            "http.posts_per_customer": _ratio(posts, len(attempts)),
            "http.success_ratio": _ratio(crm["status"].get("201", 0), posts),
            "http.connections_per_post": _ratio(crm["connections"], posts),
            "http.retry_gap_s": retry_gap,
            "http.post_window_s": window,
            "http.sink_busy_share": _ratio(crm["busy_s"], window)}


def per_layer(res, spans: list[dict], jobs: list[dict], start_s: float,
              floor_s: float) -> tuple[dict[str, tuple[float, str]], str]:
    """Every per-layer metric as name -> (value, unit), and the span table."""
    t0, t1 = res.timed
    sp.assign_jobs(spans, jobs)
    timed = [s for s in spans if s["start"] >= t0 - 1e-3 and s["end"] <= t1 + 1e-3]
    table = sp.layer_table(timed)
    timed_jobs = [j for j in jobs if t0 <= j["submit"] <= t1]

    def tot(name: str, key: str = "s") -> float:
        return table.get(name, {}).get(key, 0)

    m: dict[str, float] = {
        "session.start_s": start_s,
        "session.job_floor_s": floor_s,
        "spark.jobs": len(timed_jobs),
        "spark.single_task_jobs": sum(1 for j in timed_jobs if j["tasks"] == 1),
        "spark.stages": sum(j["stages"] for j in timed_jobs),
        "spark.tasks": sum(j["tasks"] for j in timed_jobs),
        "spark.executor_run_s": sum(j["run_s"] for j in timed_jobs),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in timed_jobs),
        "spark.gc_s": sum(j["gc_s"] for j in timed_jobs),
        "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in timed_jobs),
        "spark.spill_bytes": sum(j["spill_bytes"] for j in timed_jobs),
    }

    # plans.ingest and its operators, seen through ingest_csv / the stream
    ingest_names = ("plans.ingest_csv", "pipeline.run_ingest_stream")
    by_id = {s["id"]: s for s in timed}
    batches = [s for s in timed if s["name"] == "ingest.ingest_batch"]
    in_stream = sum(s["end"] - s["start"] for s in batches
                    if by_id.get(s["parent"], {}).get("name") == "pipeline.run_ingest_stream")
    results = [s["result"] for s in batches if "result" in s]
    m["ingest.s"] = sum(tot(n) for n in ingest_names)
    m["ingest.self_s"] = m["ingest.s"] - tot("store.append_unique")
    m["ingest.stream_overhead_s"] = tot("pipeline.run_ingest_stream") - in_stream
    m["ingest.jobs"] = sum(tot(n, "jobs") for n in ingest_names)
    m["ingest.rows_quarantined"] = sum(r.quarantined for r in results)
    m["ingest.rows_duplicate"] = sum(r.duplicates for r in results)
    m["ingest.rows_inserted"] = sum(r.inserted for r in results)
    m["ingest.rows_in"] = (m["ingest.rows_quarantined"] + m["ingest.rows_duplicate"]
                           + m["ingest.rows_inserted"])

    # operators.store
    m["store.append_unique_s"] = tot("store.append_unique")
    m["store.append_unique_jobs"] = tot("store.append_unique", "jobs")
    m["store.mark_uploaded_s"] = tot("store.mark_uploaded")
    m["store.mark_uploaded_jobs"] = tot("store.mark_uploaded", "jobs")
    lay = res.layer
    if "store_root" in lay:
        disk = store_files(lay["store_root"])
        m["store.bytes_per_user_byte"] = _ratio(disk.pop("store.bytes_on_disk"), lay["user_bytes"])
        m.update(disk)
        m.update(http_stats(lay["crm"], lay["ticks"]))
    else:  # headline: no store, no sink
        m.update({k: 0 for k in ("store.commits", "store.versions_on_disk", "store.files_latest",
                                 "store.buckets_rewritten", "store.bytes_per_user_byte")})
        m.update(http_stats({"requests": 0, "connections": 0, "status": {}, "busy_s": 0.0,
                             "attempts": {}}, []))

    # streaming.pipeline upload cycles
    busy, quiet = "pipeline.run_upload_cycle", "pipeline.run_upload_cycle.quiet"
    m["cycle.s"] = tot(busy)
    m["cycle.self_s"] = tot(busy) - tot("store.mark_uploaded") - m["http.post_window_s"]
    m["cycle.jobs"] = tot(busy, "jobs")
    m["cycle.quiet_s"] = tot(quiet, "median_s")
    m["cycle.quiet_jobs"] = _ratio(tot(quiet, "jobs"), tot(quiet, "calls"))

    # sources.tables and the headline queries, per warm pass
    m["tables.load_s"] = tot("tables.load_table")
    m["tables.loads"] = tot("tables.load_table", "calls")
    m["tables.load_jobs"] = tot("tables.load_table", "jobs")
    warm = sp.layer_table([s for s in timed if str(s["trace"]).startswith("warm")])
    n_warm = max(lay.get("warm_passes", 0), 1)
    for phase in ("construct", "analyze", "execute"):
        m[f"headline.{phase}_s"] = sum(
            warm.get(f"q.{q}.{phase}", {}).get("s", 0) for q in HEADLINE_QUERIES) / n_warm
    for q in HEADLINE_QUERIES:
        row = warm.get(f"q.{q}", {})
        m[f"q.{q}.construct_s"] = warm.get(f"q.{q}.construct", {}).get("median_s", 0)
        m[f"q.{q}.execute_s"] = warm.get(f"q.{q}.execute", {}).get("median_s", 0)
        m[f"q.{q}.jobs"] = _ratio(row.get("jobs", 0), row.get("calls", 0))

    top = sum(s["end"] - s["start"] for s in timed if s["parent"] is None)
    self_sum = sum(r["self_s"] for r in table.values())
    m["trace.wall_s"] = t1 - t0
    m["trace.top_level_share"] = _ratio(top, t1 - t0)
    m["trace.self_sum_share"] = _ratio(self_sum, t1 - t0)

    units = {k: REPORTED.get(k) or ("s" if k.endswith(("_s", ".s")) else
                                    "ratio" if k.endswith(("_share", "_ratio")) or "_per_" in k
                                    else "count")
             for k in m}
    return {k: (float(v), units[k]) for k, v in m.items()}, sp.format_table(table)
