"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it carries details: the tail percentile
and its sample count, and the launch settings. See
``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "correct_ops_frac": "fraction",
    "cpu_s_per_op": "s",
    "peak_rss_gb": "GB",
}
PER_LAYER = {
    "session.sql_s": "s",
    "session.sql_share": "fraction",
    "operators.build_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.skipped_stages": "count",
    "scheduler.stage_floor_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "spill.mb": "MB",
    "python.worker_cpu_s": "s",
    "python.bytes_to_worker_mb": "MB",
    "python.bytes_from_worker_mb": "MB",
    "iceberg_native.upsert_s": "s",
    "sources.read_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written_mb": "MB",
    "sources.metadata_bytes": "bytes",
    "sources.maintenance_s": "s",
    "sources.bytes_stored_per_user_byte": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "state.rows_total": "count",
    "state.memory_mb": "MB",
    "state.commit_ms": "ms",
    "harness.verify_s": "s",
    "harness.trace_overhead_frac": "fraction",
}


def process_start_epoch() -> float:
    """Wall-clock start of this process, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rpartition(")")[2].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def host_settings(run_dir: str) -> dict:
    """Launch settings derived from the host, the same on any machine:
    every CPU this process may use, a driver heap of a quarter of
    physical memory (at most 4g), and workers that can import the
    program from the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal"))
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # spark-submit's launcher JVM would write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }


def spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: HotSpot's hsperfdata file ignores java.io.tmpdir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')} "
            "-XX:-UsePerfData"
        ),
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{events}",
        })
    return conf


def timed_window(wl, ledger, seconds: float, tracer) -> dict:
    """Run ``round(seconds / pass_seconds)`` whole passes (at least one).
    The count depends only on ``seconds``, never on how fast this run
    happens to go, so every run and every commit times the same ops. Returns the
    harness's own CPU and verification time inside the window, and the
    Python workers' CPU time inside traced ops."""
    from perfbench.stats import python_worker_cpu_s

    pid = os.getpid()
    harness_cpu = verify_s = worker_cpu = 0.0
    for _ in range(max(1, round(seconds / wl.pass_seconds))):
        c = time.process_time()
        args = wl.next_pass()
        harness_cpu += time.process_time() - c
        for arg in args:
            tracer.op = ledger.attempted
            w0 = python_worker_cpu_s(pid) if tracer.enabled else 0.0
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    out = wl.op(arg)
            except Exception:  # the op failed: count it, keep measuring
                traceback.print_exc(file=sys.stderr)
                ledger.raised()
                continue
            index = ledger.ok(time.perf_counter() - t0)
            if tracer.enabled:
                worker_cpu += python_worker_cpu_s(pid) - w0
            c, v = time.process_time(), time.perf_counter()
            wl.after_op(index, arg, out, ledger)
            harness_cpu += time.process_time() - c
            verify_s += time.perf_counter() - v
    tracer.op = None
    return {"harness_cpu_s": harness_cpu, "verify_s": verify_s, "worker_cpu_s": worker_cpu}


def finish(wl, ledger) -> float:
    """Checks that run after the window; returns their duration."""
    v = time.perf_counter()
    wl.finish(ledger)
    return time.perf_counter() - v


def untraced(wl, run_dir: str, seconds: float, t_start: float, harness_s: float):
    from perfbench.stats import OpLedger, RssSampler, tree_cpu_s

    pid = os.getpid()
    rss = RssSampler(pid).start()
    wl.setup(spark_conf(run_dir, trace=False))
    # from process start to the first timed op, less the harness's own
    # input generation and oracle work
    setup_s = time.time() - t_start - harness_s
    ledger = OpLedger()
    cpu0 = tree_cpu_s(pid)
    spent = timed_window(wl, ledger, seconds, wl.tracer)
    cpu = tree_cpu_s(pid) - cpu0 - spent["harness_cpu_s"]
    peak = rss.stop()
    finish(wl, ledger)
    wl.close()
    m = ledger.metrics()
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": m["ops_per_s"],
        "op_p50_s": m["op_p50_s"],
        "op_tail_s": m["op_tail_s"],
        "correct_ops_frac": m["correct_ops_frac"],
        "cpu_s_per_op": cpu / ledger.attempted,
        "peak_rss_gb": peak,
    }
    detail = {
        "tail_percentile": m["tail_percentile"],
        "tail_n": m["tail_n"],
    }
    return [ledger], metrics, detail


def traced(wl, run_dir: str, seconds: float):
    """An untraced quarter window, a fresh session with the event log and
    harness spans on for half the window, and a last untraced quarter in
    another fresh session. Per-layer numbers
    come from the traced half only. The overhead compares its median op
    latency with the untraced quarters'; having one quarter on each side
    cancels the drift of a JVM that is still warming up."""
    from perfbench.stats import OpLedger
    from perfbench.trace import event_log_metrics

    tracer = wl.tracer
    before, after, ledger = OpLedger(), OpLedger(), OpLedger()
    wl.setup(spark_conf(run_dir, trace=False))
    timed_window(wl, before, seconds / 4, tracer)
    finish(wl, before)
    wl.close()

    tracer.enabled = True
    wl.setup(spark_conf(run_dir, trace=True))
    spent = timed_window(wl, ledger, seconds / 2, tracer)
    verify_s = spent["verify_s"] + finish(wl, ledger)
    ops = {i for i, x in enumerate(ledger.outcomes) if x is not None}
    layer = wl.layer_metrics(ops)
    wl.close()
    tracer.enabled = False

    wl.setup(spark_conf(run_dir, trace=False))
    timed_window(wl, after, seconds / 4, tracer)
    finish(wl, after)
    wl.close()

    windows = {op: w for op, w in tracer.op_windows().items() if op in ops}
    layer.update(event_log_metrics(os.path.join(run_dir, "events"), windows))
    n = len(ops)
    layer["session.sql_share"] = tracer.total("session.sql", ops) / sum(ledger.latencies)
    layer["python.worker_cpu_s"] = spent["worker_cpu_s"] / n
    layer["harness.verify_s"] = verify_s / n
    layer["harness.trace_overhead_frac"] = (
        statistics.median(ledger.latencies)
        / statistics.median(before.latencies + after.latencies) - 1
    )
    metrics = {name: layer.get(name, 0.0) for name in PER_LAYER}
    detail = {
        "untraced_ops": before.attempted + after.attempted,
        "traced_ops": ledger.attempted,
        "spans": len(tracer.spans),
    }
    return [before, ledger, after], metrics, detail


def stop_jvm() -> None:
    """Stop any live SparkContext, shut down the Py4J gateway and wait for
    the JVM it launched, killing it if it does not exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "glaredb_spark", "__init__.py")):
        print(f"perfbench: the program (glaredb_spark/) is not under {ROOT}",
              file=sys.stderr)
        return 2
    t_start = process_start_epoch()
    # on SIGTERM, still stop the JVM and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(run_dir)
    try:
        settings = host_settings(run_dir)
        os.environ.update(settings)
        sys.path.insert(0, ROOT)
        from perfbench.stats import run_correct
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        wl = WORKLOADS[args.workload](args.seed, run_dir, Tracer(False))
        # the program's imports count towards setup_s; prepare() does not
        for module in wl.modules:
            importlib.import_module(module)
        h0 = time.time()
        wl.prepare()
        harness_s = time.time() - h0
        if args.trace:
            ledgers, metrics, detail = traced(wl, run_dir, args.seconds)
            units = PER_LAYER
        else:
            ledgers, metrics, detail = untraced(
                wl, run_dir, args.seconds, t_start, harness_s
            )
            units = END_TO_END
        attempted = sum(lg.attempted for lg in ledgers)
        failed = sum(lg.failed for lg in ledgers)
        detail.update(workload=args.workload, seed=args.seed,
                      harness_prepare_s=harness_s, settings=settings)
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": run_correct(
                ledgers, metrics.get("scheduler.skipped_stages", 0.0)
            ),
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": float(metrics[k]), "unit": units[k]} for k in units
            },
        }))
        return 0
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass  # another run's directory is still there


if __name__ == "__main__":
    sys.exit(main())
