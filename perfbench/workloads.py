"""The two workloads and their output checks.

Each workload function gets a context (``ctx``) whose Spark session is up
and returns a ``Result``: the end-to-end metrics, the finer detail
metrics printed beside them, the check counts, and the raw material the
traced run turns into per-layer numbers.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import gen

BULK_ROWS = 4_000
QUIET_TICKS = 2
TRICKLE_FAIL_RATE = 0.10  # reference crm_server/server.go:11
REDELIVERED_WAVE = 2  # the first cycle's 15-row file comes again
HEADLINE_SF = 0.01
MIN_WARM_PASSES = 3


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)  # end to end
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    checks: dict[str, list[int]] = field(default_factory=dict)  # name -> [passed, failed]
    attempted: int = 0
    failed: int = 0
    layer: dict = field(default_factory=dict)  # inputs for the per-layer table
    timed: tuple[float, float] = (0.0, 0.0)  # epoch window of the timed phases

    def check(self, name: str, ok: bool) -> bool:
        self.checks.setdefault(name, [0, 0])[0 if ok else 1] += 1
        return ok


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (percentile, value, sample count); NaN when there are under 11."""
    n = len(samples)
    if n < 11:
        return float("nan"), float("nan"), n
    xs = sorted(samples)
    k = n - 10  # xs[k-1] has exactly ten samples above it
    return 100.0 * k / n, xs[k - 1], n


# ---------------------------------------------------------------------------
# pipeline: backfill, then trickle
# ---------------------------------------------------------------------------

def pipeline(ctx) -> Result:
    """Backfill phase: one large headerless CSV, ``ingest_csv`` into an
    empty store, one upload cycle against a healthy CRM, quiet ticks.
    Trickle phase: demo-wave files through the watch path
    (``run_ingest_stream``, availableNow, one checkpoint), each followed
    by a serve tick against a CRM failing 10% of requests and a quiet
    tick, for whole wave cycles until ``ctx.seconds`` have passed since
    the backfill began (at least one cycle)."""
    from csv_crm_upload_spark.operators.store import CustomerStore
    from csv_crm_upload_spark.plans.ingest import ingest_csv
    from csv_crm_upload_spark.streaming.pipeline import run_ingest_stream, run_upload_cycle

    spark, tr, crm, res = ctx.spark, ctx.tracer, ctx.crm, Result()
    feed = gen.CustomerFeed(ctx.seed)
    bulk_path = os.path.join(ctx.tmp, "bulk.csv")
    bulk = feed.write(bulk_path, BULK_ROWS)
    store = CustomerStore(spark, os.path.join(ctx.tmp, "store"))
    qdir = os.path.join(ctx.tmp, "quarantine")
    inbox, ckpt = os.path.join(ctx.tmp, "inbox"), os.path.join(ctx.tmp, "checkpoint")
    os.makedirs(inbox)
    ticks: list[dict] = []

    def tick() -> int:
        with tr.span("pipeline.run_upload_cycle") as sp:
            t0, w0 = time.perf_counter(), time.time()
            n = run_upload_cycle(store, crm.url)
            ticks.append({"start": w0, "end": time.time(), "s": time.perf_counter() - t0, "marked": n})
            if sp is not None and n == 0:
                sp["name"] = "pipeline.run_upload_cycle.quiet"
        return n

    crm.set_rate(0.0)
    t_begin = time.time()
    with tr.span("phase.backfill", trace="backfill"):
        c0 = ctx.cpu()
        t0 = t_start = time.perf_counter()
        with tr.span("plans.ingest_csv"):
            ingest_csv(spark, bulk_path, store, header=False, quarantine_dir=qdir)
        t1 = time.perf_counter()
        bulk_marked = tick()
        t2 = time.perf_counter()
        cold_cpu = ctx.cpu() - c0
        for _ in range(QUIET_TICKS):
            tick()
    backfill_quiet = [t["s"] for t in ticks[1:]]

    crm.set_rate(TRICKLE_FAIL_RATE)
    files: list[dict] = []  # {"land": epoch, "expect": Expect, "path": str}
    ingest_s: list[float] = []
    cycles: list[float] = []

    def deliver(batch: list) -> None:
        """Land the files of ``batch`` (name, writer) together, ingest them
        through the watch path, then one serve tick and one quiet tick."""
        with tr.span("phase.trickle_file", trace=batch[0][0]):
            landed = []
            with tr.span("bench.land_file"):
                for name, write in batch:
                    path = os.path.join(inbox, name)
                    landed.append({"expect": write(path), "path": path})
            land = time.time()
            with tr.span("pipeline.run_ingest_stream"):
                t = time.perf_counter()
                q = run_ingest_stream(spark, inbox, store, ckpt, header=False)
                q.awaitTermination()
                ingest_s.append(time.perf_counter() - t)
            if q.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {q.exception()}")
            tick()
            tick()
        files.extend(dict(f, land=land) for f in landed)

    deadline = t_start + ctx.seconds
    cycles_cpu = []
    while not cycles or time.perf_counter() < deadline:
        t, c = time.perf_counter(), ctx.cpu()
        for i, size in enumerate(gen.WAVE_SIZES):
            batch = [(f"c{len(cycles):03d}_w{i}.csv", lambda p, n=size: feed.write(p, n))]
            if not cycles and i == len(gen.WAVE_SIZES) - 1:
                # one earlier file is delivered again, beside the last wave
                first = files[REDELIVERED_WAVE]
                batch.append((f"again_{os.path.basename(first['path'])}",
                              lambda p, f=first: feed.redeliver(f["path"], p)))
            deliver(batch)
        cycles.append(time.perf_counter() - t)
        cycles_cpu.append(ctx.cpu() - c)
    t_end = time.time()
    res.timed = (t_begin, t_end)

    with tr.span("phase.check"):
        stats = crm.stats()
        store_rows = store.read().select("id", "first_name", "last_name", "email", "phone",
                                         "uploaded").collect()
        import duckdb

        quarantine = dict(duckdb.sql(
            f"SELECT reason, count(*) FROM read_parquet('{qdir}/*.parquet') GROUP BY reason"
        ).fetchall())

    # freshness: landing -> end of the tick that flagged the file's last row
    tick_ends = sorted(t["end"] for t in ticks)

    def flagged_at(email: str) -> float:
        oks = [t for t, code in stats["attempts"].get(email, []) if code == 201]
        if not oks:
            return math.inf
        return next((e for e in tick_ends if e >= min(oks)), math.inf)

    fresh = [max(flagged_at(e) for e in f["expect"].inserted) - f["land"]
             for f in files if f["expect"].inserted]

    expected = dict(bulk.inserted)
    for f in files:
        expected.update(f["expect"].inserted)
    _check_pipeline(res, expected, store_rows, stats, quarantine, bulk, flagged_at)

    trickle_rows = sum(f["expect"].rows for f in files)
    trickle_marked = sum(t["marked"] for t in ticks[len(backfill_quiet) + 1:])
    busy = [t["s"] for t in ticks[len(backfill_quiet) + 1:] if t["marked"]]
    quiet = [t["s"] for t in ticks if not t["marked"]]
    p_tail, v_tail, n_fresh = tail(fresh)
    res.metrics = {
        "setup_s": (ctx.setup_s, "s"),
        "cold_pass_cpu_s": (cold_cpu, "s"),
        "pass_cpu_s": (_median(cycles_cpu), "s"),
    }
    res.detail = {
        "cold_pass_s": (t2 - t0, "s"),
        "pass_s": (_median(cycles), "s"),
        "backfill.ingest_rows_per_s": (bulk.rows / (t1 - t0), "rows/s"),
        "backfill.upload_rows_per_s": (bulk_marked / (t2 - t1), "rows/s"),
        "backfill.quiet_tick_s": (_median(backfill_quiet), "s"),
        "trickle.ingest_rows_per_s": (trickle_rows / sum(ingest_s), "rows/s"),
        "trickle.upload_rows_per_s": (trickle_marked / sum(busy), "rows/s"),
        "trickle.freshness_p50_s": (_median(fresh), "s"),
        "trickle.freshness_tail_s": (v_tail, "s"),
        "trickle.freshness_tail_pct": (p_tail, "%"),
        "trickle.freshness_samples": (n_fresh, "count"),
        "trickle.files": (len(files), "count"),
        "trickle.quiet_tick_s": (_median(quiet[QUIET_TICKS:]), "s"),
        "quiet_tick_s": (_median(quiet), "s"),
    }
    res.layer = {"ticks": ticks, "crm": stats, "store_root": store.root,
                 "user_bytes": sum(len(",".join(map(str, r))) + 1 for r in expected.values())}
    return res


def _check_pipeline(res, expected, store_rows, stats, quarantine, bulk, flagged_at) -> None:
    """One operation per expected customer; rejects admitted anyway and
    quarantine counts off the ground truth count as failures too."""
    in_store: dict[str, list] = {}
    for r in store_rows:
        in_store.setdefault(r["email"], []).append(r)
    for email, row in expected.items():
        got = in_store.get(email, [])
        ok = res.check("stored_and_flagged", len(got) == 1 and bool(got[0]["uploaded"])
                       and tuple(got[0][c] for c in ("id", "first_name", "last_name", "email",
                                                     "phone")) == row)
        attempts = stats["attempts"].get(email, [])
        ok &= res.check("one_201", sum(1 for _, code in attempts if code == 201) == 1)
        payload = dict(zip(("id", "first_name", "last_name", "email", "phone"), row))
        ok &= res.check("payload_matches_csv", stats["payloads"].get(email) == payload)
        ok &= res.check("no_post_after_flag",
                        all(t <= flagged_at(email) for t, _ in attempts))
        res.attempted += 1
        res.failed += not ok
    # rejects: nothing outside the expected set is stored or posted
    extra = {e for e in in_store if e not in expected} | {
        e for e in stats["attempts"] if e not in expected}
    res.check("no_reject_admitted", not extra)
    res.failed += len(extra)
    for reason in (*gen.REASONS, "duplicate_key"):
        res.attempted += 1
        res.failed += not res.check("quarantine_" + reason,
                                    quarantine.get(reason, 0) == bulk.reasons.get(reason, 0))


# ---------------------------------------------------------------------------
# headline: the bench.py headline queries, cold then warm
# ---------------------------------------------------------------------------

def _sorted_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = [tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i] for i in order)
            for r in rows]
    return sorted(norm, key=repr)


def oracle_mismatches(sf_dir: str, results: dict) -> set[str]:
    """Queries whose Spark rows (``results``: name -> (columns, rows))
    differ from ``oracle_sql()`` on DuckDB, compared as the repo's parity
    suite compares them."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = set()
    for name, (cols, rows) in results.items():
        cur = con.execute(oracles[name])
        want_cols = [d[0] for d in cur.description]
        want = _sorted_rows(cur.fetchall(), want_cols)
        if sorted(cols) != sorted(want_cols) or _sorted_rows(rows, cols) != want:
            bad.add(name)
    con.close()
    return bad


def headline(ctx) -> Result:
    """One cold pass over the headline queries, then warm passes until
    ``ctx.seconds`` have passed since the cold pass began (at least
    ``MIN_WARM_PASSES``). Warm passes drain each query as bench.py does (``agg(count).collect()``); the cold pass
    collects the rows, which are then checked against the DuckDB oracle
    outside the timed passes."""
    import __spark_entry__ as entry
    from bench import HEADLINE

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    queries, sf_dir = entry.queries(), ctx.tables
    rows: dict[str, tuple] = {}

    def collect(name, df):
        rows[name] = (df.columns, [tuple(r) for r in df.collect()])

    def count(name, df):
        df.agg({"*": "count"}).collect()

    cpu: list[float] = []

    def one_pass(label: str, drain) -> tuple[float, set]:
        errors = set()
        with tr.span("phase.headline_pass", trace=label):
            c0, t0 = ctx.cpu(), time.perf_counter()
            for name in HEADLINE:
                with tr.span(f"q.{name}"):
                    try:
                        with tr.span(f"q.{name}.construct"):
                            df = queries[name](spark, sf_dir)
                        with tr.span(f"q.{name}.analyze"):
                            df.schema  # noqa: B018 - forces Catalyst analysis
                        with tr.span(f"q.{name}.execute"):
                            drain(name, df)
                    except Exception as exc:  # a failing query is a counted failure
                        print(f"query {name} failed: {exc!r}")
                        errors.add(name)
            wall = time.perf_counter() - t0
            cpu.append(ctx.cpu() - c0)
            return wall, errors

    t_begin = time.time()
    deadline = time.perf_counter() + ctx.seconds
    cold, errors = one_pass("cold", collect)
    warm, passes = [], [errors]
    while len(warm) < MIN_WARM_PASSES or time.perf_counter() < deadline:
        s, errors = one_pass(f"warm{len(warm)}", count)
        warm.append(s)
        passes.append(errors)
    res.timed = (t_begin, time.time())

    wrong = oracle_mismatches(sf_dir, rows)
    for name in HEADLINE:
        res.check("oracle_rows", name in rows and name not in wrong)
        for errs in passes:
            ran = res.check("query_runs", name not in errs)
            res.attempted += 1
            res.failed += (not ran) or name in wrong or name not in rows
    res.metrics = {"setup_s": (ctx.setup_s, "s"), "cold_pass_cpu_s": (cpu[0], "s"),
                   "pass_cpu_s": (_median(cpu[1:]), "s")}
    res.detail = {"cold_pass_s": (cold, "s"), "pass_s": (_median(warm), "s"),
                  "headline.warm_passes": (len(warm), "count")}
    res.layer = {"warm_passes": len(warm)}
    return res


def headline_warmup(spark, sf_dir: str) -> None:
    """bench.py's untimed warm-up before its cold pass."""
    import __spark_entry__ as entry

    entry.queries()["a1_count"](spark, sf_dir).collect()


WORKLOADS = {"pipeline": pipeline, "headline": headline}
