"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the workload's detailed figures (named metrics, input shape, checks).
See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _heap_mb() -> int:
    """Driver heap that fits the machine: an eighth of RAM, at most 1 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return max(512, min(1024, total_kb // 8 // 1024))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Run:
    """One benchmark process: work directory, Spark session lifecycle,
    set-up rounds, measurement, checks and reporting."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = _cpus()
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.tracer = None  # set while a traced measurement runs
        self.untraced_e2e: dict = {}
        self.jvm = None
        self.eventlog = os.path.join(self.work, "eventlog")

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    # ------------------------------------------------------------ session
    def build(self, master: str | None = None, eventlog: bool = False):
        from cdc_engine.session import build_session

        tmp = os.path.join(self.work, "tmp")
        # a heap that starts at its maximum size: with a growing heap, how
        # early G1 expanded it changed drain times by up to 1.45x and peak
        # memory by 1.4x between runs
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        extra = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            from perfbench.tracing import eventlog_conf

            extra.update(eventlog_conf(self.eventlog))
        self.spark = build_session(app="perfbench", master=master, extra=extra)
        if self.jvm is None:
            from pyspark import SparkContext

            self.jvm = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, then end the gateway JVM and wait for it."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm is not None:
            try:
                self.jvm.stdin.close()
                self.jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall back to a kill
                self.jvm.kill()
                self.jvm.wait()

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb("self") + (_vm_hwm_mb(self.jvm.pid) if self.jvm is not None else 0.0)

    # -------------------------------------------------------------- phases
    def start(self) -> float:
        """Launch the JVM, build the session and run a first job; returns
        the seconds taken. Runs while the inputs are generated."""
        t = time.perf_counter()
        self.build().range(1000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t

    def setup(self, wl, start_s: float) -> float:
        """SETUP_ROUNDS set-up rounds on one session; returns the median.
        The first round also counts the session start and warms every code
        path the measurement uses (``warm=True``); the later rounds repeat
        only the workload's preload on fresh lakes."""
        from perfbench.workloads import SETUP_ROUNDS

        times = []
        for i in range(SETUP_ROUNDS):
            t = time.perf_counter()
            wl.prepare(self.spark, warm=i == 0)
            times.append(time.perf_counter() - t + (start_s if i == 0 else 0.0))
        wl.detail["setup_rounds_s"] = {"value": times, "unit": "s"}
        return statistics.median(times)


def untraced(run: Run, wl, start_s: float) -> dict:
    setup_s = run.setup(wl, start_s)
    t, cpu0 = time.perf_counter(), _cpu_times()
    wl.measure(run.spark, run.seconds)
    t1, cpu1 = time.perf_counter(), _cpu_times()
    # share of the machine's CPU time the hypervisor took during the window
    # (the 8th /proc/stat field): a slow run with a high share was stalled
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    wl.detail["cpu_steal_share"] = {"value": delta[7] / max(1, sum(delta)), "unit": "ratio"}
    wl.check(run.spark)
    wl.detail["measure_s"] = {"value": t1 - t, "unit": "s"}
    wl.detail["check_s"] = {"value": time.perf_counter() - t1, "unit": "s"}
    m = {"setup_s": {"value": setup_s, "unit": "s"}}
    units = {"op_p50_ms": "ms", "throughput_per_s": "1/s", "batch_ms": "ms"}
    for k, v in wl.e2e.items():
        m[k] = {"value": v, "unit": units[k]}
    m["peak_rss_mb"] = {"value": run.peak_rss_mb(), "unit": "MB"}
    return m


def window_lineage(spark, wl, sizes_before) -> dict:
    """Lineage rows of the epochs the traced window committed: lakes the
    window did not change are skipped, and a copied lake drops the epochs
    of the lake it copies."""
    from cdc_engine import SnapLake

    out = {}
    for lk in wl.lakes():
        if lk.path in sizes_before and sizes_before[lk.path][2] == lk.head_version():
            continue
        done = set()
        if lk.path in wl.origin:
            done = {r["epoch_id"] for r in SnapLake(wl.origin[lk.path]).lineage_df(spark).collect()}
        out[lk.path] = [r for r in lk.lineage_df(spark).collect() if r["epoch_id"] not in done]
    return out


def traced(run: Run, wl) -> dict:
    """Per-layer run: an untraced measurement, then a fresh session with the
    event log on and the tracer installed, measured again on fresh lakes.
    The difference between the two is the tracing overhead."""
    from cdc_engine import timing
    from perfbench.layers import lake_sizes, layer_metrics, unit_of
    from perfbench.tracing import Tracer, attribute_jobs, read_eventlog

    run.setup(wl, 0.0)
    wl.measure(run.spark, run.seconds)
    base = run.untraced_e2e = dict(wl.e2e)
    run.stop_session()
    spark = run.build(eventlog=True)
    wl.prepare(spark, warm=False)
    sizes_before = lake_sizes(wl.lakes())
    tracer = run.tracer = Tracer()
    tracer.install()
    os.environ["CDC_TIMING"] = "1"
    timing.drain()
    lo = time.time()
    try:
        wl.measure(spark, run.seconds)
    finally:
        hi = time.time()
        os.environ.pop("CDC_TIMING", None)
        tracer.remove()
        run.tracer = None
    phases = timing.drain()
    wl.check(spark)
    extra = wl.layer_extras()
    extra.update(wl.captured_counts(tracer))
    lineage = window_lineage(spark, wl, sizes_before)
    # the event log is complete once its session stops
    run.stop_session()
    jobs, tasks = read_eventlog(run.eventlog)
    attribute_jobs(tracer, jobs)
    m = layer_metrics(tracer, wl, jobs, tasks, lo, hi, phases, extra, sizes_before, lineage)
    m.update({k: {"value": v, "unit": unit_of(k)} for k, v in wl.scaling(run).items()})
    m["trace.overhead_ratio"] = {
        "value": wl.e2e["op_p50_ms"] / base["op_p50_ms"] - 1.0, "unit": "ratio"}
    wl.detail["untraced"] = base
    wl.detail["traced"] = dict(wl.e2e)
    tracer.dump(os.path.join(run.work, "spans.jsonl"), [j for j in jobs if lo <= j["submit"] <= hi])
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory (spans.jsonl)")
    args = ap.parse_args()

    for need in ("cdc_engine", "gen"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            _fail(f"{need}/ not found next to perfbench/: run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    run = Run(args)
    os.makedirs(os.path.join(run.work, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(run.cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{_heap_mb()}m",
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_DIRS": os.path.join(run.work, "spark-local"),
        "TMPDIR": os.path.join(run.work, "tmp"),
    })
    wl = WORKLOADS[args.workload](run)
    t0 = time.perf_counter()
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            started = pool.submit(run.start)
            wl.gen_inputs()
            wl.detail["gen_s"] = {"value": time.perf_counter() - t0, "unit": "s"}
            start_s = started.result()
        metrics = traced(run, wl) if run.trace else untraced(run, wl, start_s)
    finally:
        run.shutdown()
        if args.keep:
            run.log(f"work directory kept: {run.work}")
        else:
            shutil.rmtree(run.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run.work))
            except OSError:
                pass  # another run's directory is still there
    wl.detail["total_s"] = {"value": time.perf_counter() - t0, "unit": "s"}
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "cores": run.cpus,
        "inputs": wl.inputs, "failed_ratio": wl.failed / max(1, wl.attempted),
        "metrics": wl.detail,
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": max(1, wl.attempted),
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
