"""Benchmark of record for the engine.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard_curation --seed 1 --seconds 10 --trace 0

Workloads: ``dashboard_curation`` and ``monthly_etl`` (README.md says
why each exists). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with spans and engine-side counters
on and prints the per-layer metrics. Human-readable lines come first;
the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes lives under ``.bench_build/`` in the current
directory: the run's inputs, warehouse and Spark scratch in
``.bench_build/perfbench/`` (deleted at exit), the traced run's spans in
``.bench_build/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # leave nothing behind under perfbench/

from host import cpu_steal_share, descendants, host_sizing, tree_peak_rss_mb  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPEATS = 3


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway down, and wait until the JVM
    and every Python worker it started have exited (killing any left
    after 30 s)."""
    from pyspark import SparkContext

    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at
    least ten samples beyond it; the maximum when that percentile would
    fall below the median (fewer than twenty samples)."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("dashboard_curation", "monthly_etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc, heap = host_sizing()
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": heap,
    })
    sys.path[:0] = [ROOT, HERE]
    try:
        from tfl_bikes_data_pipeline_spark.session import get_spark

        import workloads
        from spans import Tracer
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    else:
        return run(args, work, tmp, nproc, heap, get_spark, workloads, Tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.removedirs(base)  # only the empty parents
        except OSError:
            pass


def run(args, work, tmp, nproc, heap, get_spark, workloads, Tracer) -> int:
    def session():
        return get_spark(
            app_name="perfbench",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Xms{heap} -XX:+AlwaysPreTouch "
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                ),
            },
        )

    etl = args.workload == "monthly_etl"
    wl = (workloads.MonthlyEtl if etl else workloads.DashboardCuration)(work, args.seed)

    spark = None
    try:
        # ---- set-up: session start + input generation, several times ----
        setup_s, get_spark_s = [], []
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session()
            get_spark_s.append(time.perf_counter() - t0)
            wl.prepare(args.seed)
            setup_s.append(time.perf_counter() - t0)

        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            _trace_warehouse_writes(tracer)

        w0 = time.perf_counter()
        wl.warmup(spark, tracer)
        warmup_s = time.perf_counter() - w0
        tracer.spans.clear()
        tracer.overhead_s = 0.0

        sampler = _HeapSampler(tracer) if args.trace else None
        gc0 = tracer.jvm_gc_s() if args.trace else 0.0
        steal0 = cpu_steal_share()
        m0 = time.perf_counter()
        ops, wall_s = wl.measure(spark, tracer, args.seconds)
        measured_s = time.perf_counter() - m0
        steal1 = cpu_steal_share()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        gc_s = tracer.jvm_gc_s() - gc0 if args.trace else 0.0
        heap_peak = sampler.stop() if sampler else 0.0

        failures = wl.check(spark)
        rss = tree_peak_rss_mb()

        # the backfill also attempts the setup stage, the re-run and the compaction
        attempted = len(ops) + (3 if etl else 0)
        failed = min(attempted, sum(not o["ok"] for o in ops) + len(failures))
        # latency, tail and rate are taken over the workload's unit of work:
        # a dashboard query, or a landed month
        unit_ms = [o["ms"] for o in ops if o["ok"] and o["kind"] in ("query", "month")]
        if not unit_ms:
            raise SystemExit("no operation completed")
        t_val, t_pct, t_n = tail(unit_ms)

        print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
        print(f"host nproc {nproc} driver_heap {heap} spark {spark.version} "
              f"clients {1 if etl else wl.clients}")
        # CPU time of the process tree per unit of work (each month is
        # timed alone; the dashboard clients overlap, so their window's
        # CPU is shared out over its queries), and of the batch: the
        # whole backfill, or the pass of curation jobs
        if etl:
            op_cpu_ms = 1000.0 * statistics.median(o["cpu_s"] for o in ops if o["kind"] == "month")
            batch_s, batch_cpu_s = wl.batch_s, wl.batch_cpu_s
        else:
            op_cpu_ms = 1000.0 * wl.window_cpu_s / len(unit_ms)
            batch_s, batch_cpu_s = wl.pass_s, wl.pass_cpu_s
        print(f"timed region {wall_s:.3f} s, {len(ops)} operations, warm-up {warmup_s:.3f} s, "
              f"cpu steal {100 * steal:.1f}%")
        print(f"batch {batch_s:.3f} s wall, {batch_cpu_s:.2f} s cpu; "
              f"{op_cpu_ms:.1f} ms cpu per {'month' if etl else 'query'}")
        for msg in failures:
            print(f"CHECK FAILED: {msg}")
        _print_named(wl, ops, wall_s, setup_s, rss, attempted, failed, (t_val, t_pct, t_n))
        for kind in ("month", "job"):
            if any(o["kind"] == kind for o in ops):
                print(f"{kind}s " + " ".join(
                    f"{o['name']}:{o['ms'] / 1000:.3f}s" for o in ops if o["kind"] == kind))

        if args.trace:
            metrics = _per_layer(workloads, wl, ops, tracer, get_spark_s, gc_s, heap_peak, measured_s)
            os.makedirs(os.path.join(ROOT, ".bench_build", "spans"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".bench_build", "spans", f"{args.workload}-s{args.seed}.json"
            ))
            for name, (value, unit) in sorted(metrics.items()):
                print(f"layer {name} = {value:.6g} {unit}")
        else:
            metrics = {
                "setup_s": (statistics.median(setup_s), "s"),
                "op_p50_ms": (statistics.median(unit_ms), "ms"),
                "op_tail_ms": (t_val, "ms"),
                "ops_per_s": (len(unit_ms) / wall_s, "1/s"),
                "op_cpu_ms": (op_cpu_ms, "ms"),
                "batch_cpu_s": (batch_cpu_s, "s"),
                "peak_rss_mb": (rss, "MB"),
            }
    finally:
        if spark is not None:
            stop_session(spark)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _print_named(wl, ops, wall_s, setup_s, rss, attempted, failed, tail_stats):
    """The eleven end-to-end metrics of the benchmark's design by name,
    with units (n/a where the workload does not exercise one)."""
    na = "n/a"
    named = {
        "setup_s": (f"{statistics.median(setup_s):.4f}", "s"),
        "peak_rss_mb": (f"{rss:.1f}", "MB"),
        "failed_ops_frac": (f"{failed / attempted:.4f}", "1"),
        "warehouse_bytes_per_input_byte": (na, "1"),
        "etl_month_p50_s": (na, "s"),
        "etl_rows_per_s": (na, "1/s"),
        "etl_rerun_s": (na, "s"),
        "query_p50_ms": (na, "ms"),
        "query_tail_ms": (na, "ms"),
        "query_qps": (na, "1/s"),
        "curation_pass_s": (na, "s"),
    }
    if hasattr(wl, "manifest"):
        months = [o["ms"] / 1000 for o in ops if o["kind"] == "month"]
        csv_bytes = sum(m["csv_bytes"] for m in wl.manifest)
        rows = sum(m["rows"] for m in wl.manifest)
        named.update({
            "warehouse_bytes_per_input_byte": (f"{wl.info['warehouse_bytes'] / csv_bytes:.4f}", "1"),
            "etl_month_p50_s": (f"{statistics.median(months):.4f}", "s"),
            "etl_rows_per_s": (f"{rows / wl.info['backfill_s']:.1f}", "1/s"),
            "etl_rerun_s": (f"{wl.info['rerun_s']:.4f}", "s"),
        })
    else:
        ms = [o["ms"] for o in ops if o["ok"] and o["kind"] == "query"]
        value, pct, n = tail_stats
        named.update({
            "query_p50_ms": (f"{statistics.median(ms):.2f}", "ms"),
            "query_tail_ms": (f"{value:.2f}", f"ms (p{pct:.1f} of {n} samples)"),
            "query_qps": (f"{len(ms) / wall_s:.4f}", "1/s"),
            "curation_pass_s": (f"{wl.pass_s:.4f}", "s"),
        })
    for name, (value, unit) in named.items():
        print(f"metric {name} = {value} {unit}")


class _HeapSampler:
    """Samples JVM heap use twice a second in the traced run, off the
    operations' path; stop() returns the highest reading."""

    def __init__(self, tracer):
        self.tracer, self.peak, self._stop = tracer, 0.0, threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self):
        while not self._stop.wait(0.5):
            self.peak = max(self.peak, self.tracer.jvm_heap_used_mb())

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return self.peak


def _trace_warehouse_writes(tracer) -> None:
    """Span every warehouse write the stages make, so engine self time
    excludes the parquet writes (the engine module is not edited: its
    reference to ``write_partitioned`` is wrapped for this process)."""
    from tfl_bikes_data_pipeline_spark import engine

    write = engine.write_partitioned

    def traced(df, path, partition_cols, mode="append"):
        with tracer.span(f"warehouse.write_partitioned:{os.path.basename(path)}"):
            return write(df, path, partition_cols, mode)

    engine.write_partitioned = traced


LAYERS = ("bench", "sources", "engine", "warehouse", "plans", "exec")


def _per_layer(workloads, wl, ops, tracer, get_spark_s, gc_s, heap_peak, measured_s):
    """Every per-layer metric; a layer the workload does not exercise
    reads 0. ``measured_s`` is the whole measured phase, both dashboard
    and curation, or the backfill with its checks' digests."""
    def med(xs):
        return statistics.median(xs) if xs else 0.0

    spans = tracer.spans

    def durations(prefix):
        return [s["end"] - s["start"] for s in spans if s["name"].startswith(prefix)]

    per_op: dict[int, dict] = {}
    for s in spans:
        if "jobs" in s:
            acc = per_op.setdefault(s["op"], {"jobs": 0, "tasks": 0})
            acc["jobs"] += s["jobs"]
            acc["tasks"] += s["tasks"]
    m = {
        "session.get_spark_s": (med(get_spark_s), "s"),
        "spark.jobs_per_query": (med([a["jobs"] for a in per_op.values()]), "count"),
        "spark.tasks_per_query": (med([a["tasks"] for a in per_op.values()]), "count"),
        "spark.failed_tasks": (sum(s.get("failed_tasks", 0) for s in spans), "count"),
        "jvm.gc_s": (gc_s, "s"),
        "jvm.heap_used_mb": (heap_peak, "MB"),
        "trace.overhead_s": (tracer.overhead_s, "s"),
        "trace.overhead_frac": (tracer.overhead_s / measured_s, "1"),
    }
    self_times = tracer.self_times()
    for layer in LAYERS:
        m[f"self_s.{layer}"] = (
            sum(v for k, v in self_times.items() if _layer_of(k) == layer), "s"
        )

    etl = wl if hasattr(wl, "manifest") else None
    read = durations("sources.read_csv_with_schema")
    land = durations("sources.land")
    stage = [s for s in spans if s["name"].startswith(("engine.weather", "engine.journeys"))]
    m.update({
        "sources.read_csv_with_schema_s": (med(read), "s"),
        "sources.csv_rows_per_s": (
            sum(x["rows"] for x in etl.manifest) / (sum(read) + sum(land)) if etl else 0.0, "1/s"),
        "engine.setup_stage_s": (med(durations("engine.setup")), "s"),
        "engine.weather_stage_s": (med(durations("engine.weather")), "s"),
        "engine.journeys_stage_s": (med(durations("engine.journeys")), "s"),
        "engine.jobs_per_stage": (med([s["jobs"] for s in stage]), "count"),
        "engine.tasks_per_stage": (med([s["tasks"] for s in stage]), "count"),
        "warehouse.compact_partitions_s": (med(durations("warehouse.compact_partitions")), "s"),
        "warehouse.files_per_partition_before": (
            statistics.mean(etl.files_before) if etl else 0.0, "count"),
        "warehouse.files_per_partition_after": (
            statistics.mean(etl.files_after) if etl else 0.0, "count"),
        "warehouse.bytes_written": (etl.info["warehouse_bytes"] if etl else 0, "bytes"),
    })

    build = [o["build_ms"] for o in ops if o["kind"] == "query"]
    execute = [o["exec_ms"] for o in ops if o["kind"] == "query"]
    m["plans.build_ms"] = (med(build), "ms")
    m["plans.build_share"] = (sum(build) / (sum(build) + sum(execute)) if build else 0.0, "1")
    for q in workloads.DASHBOARD_QUERIES:
        m[f"exec_ms.{q}"] = (med([o["exec_ms"] for o in ops if o["name"] == q]), "ms")
    for q in workloads.CURATION_JOBS:
        mine = [o for o in ops if o["name"] == q]
        m[f"operators.{q}.build_s"] = (med([o["build_ms"] / 1000 for o in mine]), "s")
        m[f"operators.{q}.exec_s"] = (med([o["exec_ms"] / 1000 for o in mine]), "s")
    cache = getattr(wl, "cache", [])
    m["cache.persisted_rdds_after_job"] = (max((c[0] for c in cache), default=0), "count")
    m["cache.persisted_mb"] = (max((c[1] for c in cache), default=0.0), "MB")
    m["cache.leaked_rdds"] = (getattr(wl, "leaked", 0), "count")
    return m


def _layer_of(span_layer: str) -> str:
    if span_layer == "op":
        return "bench"
    return span_layer.split(".", 1)[0]


if __name__ == "__main__":
    sys.exit(main())
