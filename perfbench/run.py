"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of this repository. Prints the workload's
metrics by name and unit, the checker's pass/fail counts and, with
``--trace 1``, the per-layer table; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in BENCHMARK.json. See perfbench/README.md for the definitions.

Everything the run writes lives in a temporary directory under the
checkout, removed at exit; every process it starts is stopped and waited
for before the result is printed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import types
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FLOOR_PROBES = 10


class CRM:
    """The mock CRM process (perfbench/crm.py) and its HTTP controls."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "crm.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.close()
            raise RuntimeError("mock CRM did not start")
        self.url = f"http://127.0.0.1:{line[1]}"

    def _call(self, method: str, path: str, body: dict | None = None) -> bytes:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(self.url + path, data=data, method=method)
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.read()

    def set_rate(self, rate: float) -> None:
        self._call("PUT", "/config", {"fail_rate": rate})

    def stats(self) -> dict:
        return json.loads(self._call("GET", "/stats"))

    def close(self) -> None:
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, exclude: set[int]) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in exclude:
                out.append(c)
                todo.append(c)
    return out


def tree_cpu_s(exclude: set[int]) -> float:
    """CPU seconds (user + system) used so far by this process tree,
    including children that have exited and been reaped. Time the
    hypervisor steals from the VM is not charged to any process."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid(), exclude)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        except (OSError, ValueError):  # the process just ended
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(key))


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))


class PeakRSS(threading.Thread):
    """Peak resident memory of this process tree, less the mock CRM.

    The driver Python and the JVM hold nearly all of it; for each the
    kernel tracks its own peak (``VmHWM``), which no sample can miss. The
    Python workers the JVM forks come and go, so they are sampled twice a
    second: the largest sum of their ``Pss`` at one sample (pages a worker
    shares with its daemon count once). The result is the sum of the two
    ``VmHWM``s and that largest worker sum. Call ``stop`` while the JVM is
    still up."""

    def __init__(self, exclude: set[int]):
        super().__init__(daemon=True)
        self.exclude = exclude
        self.hwm_kb: dict[int, int] = {}  # driver and JVM pid -> VmHWM, last sample
        self.workers_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        workers, hwm = 0, {}
        for pid in [os.getpid(), *descendants(os.getpid(), self.exclude)]:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                if pid == os.getpid() or comm == "java":
                    hwm[pid] = _status_kb(pid, "VmHWM:")
                elif comm.startswith("python"):
                    # only Python workers: a child the JVM spawns shares its
                    # memory until it execs, and would count the JVM again
                    workers += _pss_kb(pid)
            except (OSError, StopIteration, ValueError):  # the process just ended
                pass
        self.hwm_kb = hwm  # only processes still alive: not spark-submit's launcher JVM
        self.workers_kb = max(self.workers_kb, workers)

    def run(self) -> None:
        while not self._halt.wait(0.5):
            self.sample()

    def stop(self) -> dict[str, float]:
        """The peak and its parts, in MB."""
        self._halt.set()
        self.join()
        self.sample()
        driver = self.hwm_kb.get(os.getpid(), 0) / 1024.0
        jvm = sum(self.hwm_kb.values()) / 1024.0 - driver
        workers = self.workers_kb / 1024.0
        return {"mem.peak_rss_mb": driver + jvm + workers, "mem.driver_python_mb": driver,
                "mem.jvm_mb": jvm, "mem.python_workers_mb": workers}


def _terminate(*_) -> None:
    """SIGTERM: unwind through main's cleanup once; ignore repeats so a
    second signal cannot cut the cleanup short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def _env(tmp: str, trace: bool) -> None:
    """Run hygiene, set before the JVM starts: all scratch inside ``tmp``,
    local parallelism = CPUs available, the repo root importable by
    Python workers, the event log only when tracing."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_GRAFT_PCAREC1_SNAPSHOT"] = os.path.join(tmp, "pcarec1_snapshot.parquet")
    os.environ["SPARK_GRAFT_ROLLUP_DIR"] = os.path.join(tmp, "rollup")
    os.environ.pop("SPARK_DRIVER_MEMORY", None)  # measure get_spark's own default heap
    args = ["--driver-java-options", f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}"]
    if trace:
        for conf in ("spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                     f"spark.eventLog.dir=file://{os.path.join(tmp, 'eventlog')}"):
            args += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_spark(exclude: set[int]) -> None:
    """Stop the active session, the JVM it launched and the JVM's Python
    workers, whatever state they are in (the JVM may already be gone)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    try:
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
    except Exception as exc:  # cleanup must go on; the JVM is stopped below
        print(f"session stop failed: {exc!r}", file=sys.stderr)
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 20
    while time.time() < deadline and descendants(os.getpid(), exclude):
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(os.getpid(), exclude):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.5)


def _remove(tmp: str) -> None:
    os.chdir(ROOT)
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))
    except OSError:  # another run's directory is still there
        pass


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _print_metrics(title: str, metrics: dict) -> None:
    print(f"# {title}")
    for name, (value, unit) in metrics.items():
        print(f"{name:<40} {value:>16.6g} {unit}")


def main() -> int:
    ap = argparse.ArgumentParser(description="csv_crm_upload_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "csv_crm_upload_spark")) or not os.path.isfile(
            os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no csv_crm_upload_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import layers
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _terminate)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    with contextlib.ExitStack() as cleanup:  # unwinds in reverse, step by step
        cleanup.callback(_remove, tmp)
        _env(tmp, bool(args.trace))
        os.chdir(tmp)
        crm = CRM()
        cleanup.callback(crm.close)
        exclude = {crm.proc.pid}
        rss = PeakRSS(exclude)
        rss.start()
        cpu0 = _cpu_times()
        tracer = spans.Tracer(bool(args.trace))
        if args.trace:
            spans.install(tracer)
        tables = os.path.join(tmp, "tables")
        if args.workload == "headline":
            import gen

            gen.write_tables(tables, args.seed, workloads.HEADLINE_SF)

        from csv_crm_upload_spark.session import get_spark

        with contextlib.ExitStack() as session:
            session.callback(_stop_spark, exclude)  # also flushes the event log
            c0, t0 = tree_cpu_s(exclude), time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark()
            start_s = time.perf_counter() - t0
            floor = []
            for _ in range(FLOOR_PROBES):
                with tracer.span("session.floor_probe"):
                    t = time.perf_counter()
                    spark.range(0, 1, 1, 1).write.format("noop").mode("overwrite").save()
                    floor.append(time.perf_counter() - t)
            if args.workload == "headline":
                with tracer.span("bench.warmup"):
                    workloads.headline_warmup(spark, tables)
            setup_wall_s = time.perf_counter() - t0
            setup_cpu_s = tree_cpu_s(exclude) - c0

            ctx = types.SimpleNamespace(
                spark=spark, tracer=tracer, crm=crm, seed=args.seed, seconds=args.seconds,
                tmp=tmp, tables=tables, setup_s=setup_cpu_s, cpu=lambda: tree_cpu_s(exclude))
            res = workloads.WORKLOADS[args.workload](ctx)
            res.detail["setup_wall_s"] = (setup_wall_s, "s")
            mem = {k: (v, "MB") for k, v in rss.stop().items()}
            res.detail.update(mem)
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        res.detail["host.steal_share"] = (cpu[7] / max(sum(cpu), 1), "ratio")
        if args.trace:
            jobs = spans.read_event_log(os.path.join(tmp, "eventlog"))
            per_layer, table = layers.per_layer(res, tracer.spans, jobs, start_s,
                                                statistics.median(floor))
            per_layer.update(mem)

    _print_metrics(f"{args.workload}: end-to-end" + (" (traced)" if args.trace else ""),
                   res.metrics)
    _print_metrics(f"{args.workload}: detail", res.detail)
    print(f"# checks (passed, failed): {json.dumps(res.checks)}")
    print(f"failed_share {res.failed / max(res.attempted, 1):.6g} ratio "
          f"({res.failed} of {res.attempted})")
    out = res.metrics
    if args.trace:
        _print_metrics(f"{args.workload}: per-layer", per_layer)
        print(f"# {args.workload}: spans of the timed phases")
        print(table)
        out = {k: per_layer[k] for k in layers.REPORTED}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
