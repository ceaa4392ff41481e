"""Seeded end-to-end benchmark of the getdbt_spark package.

Run from the repository root:

    python3 perfbench/run.py --workload nightly_dag --seed 1 --seconds 10 --trace 0

One process is one closed-loop client on ``local[N]`` with N = the cores
this process may use.  The process generates its corpus from ``--seed``,
creates the session, sets the workload up, runs one untimed warm-up op,
then runs ops until ``--seconds`` have passed, checks the warm-up op's
outputs and the warehouse against the DuckDB oracles and prints one JSON
line as the last line of stdout.  ``--trace 1`` makes a separate traced run that reports per-layer
metrics instead (see perfbench/README.md).  Everything the run writes
stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Import the benchmark as the ``perfbench`` package from the repository
# root, never its modules from their own directory.
sys.path[0] = ROOT
OUT_DIR = os.path.join(ROOT, ".perfbench")
END_TO_END = {"setup_s": "s", "op_s_p50": "s", "ops_per_s": "1/s"}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.first_op_s": "s",
    "io.load_table_calls": "count",
    "io.table_cache_hit_ratio": "ratio",
    "program.build_s": "s",
    "program.build_py4j_calls": "count",
    "program.build_jobs": "count",
    "py4j.calls": "count",
    "exec.action_s": "s",
    "spark.catalyst.analysis_s": "s",
    "spark.catalyst.optimization_s": "s",
    "spark.catalyst.planning_s": "s",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.failed_tasks": "count",
    "spark.exec.job_s_p50": "s",
    "spark.exec.sched_wait_s": "s",
    "spark.exec.task_s": "s",
    "spark.exec.task_cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.slot_busy_frac": "ratio",
    "spark.exec.scan_bytes": "bytes",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="getdbt_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into the run's work dir, and make the package importable by the
    Python workers Spark starts."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "ckpt", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["GETDBT_SPARK_CKPT_DIR"] = os.path.join(work, "ckpt")
    os.environ["TMPDIR"] = tmp
    # For every JVM spark-submit starts, the launcher included.  HotSpot
    # writes its perf-data file under /tmp whatever java.io.tmpdir says, so
    # the counters stay in process memory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    args = []
    if trace:
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        except (OSError, StopIteration):
            pass
    return kb / 1024.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until each has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def run(args, work: str) -> dict:
    # Import the package first: without it the run must fail before doing
    # anything else.
    from getdbt_spark.session import get_spark

    from perfbench import corpus as C
    from perfbench import tracing as T
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    trace = bool(args.trace)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    prepare_env(work, trace)

    steal0 = steal_s()
    t = time.perf_counter()
    corpus_dir = C.write(os.path.join(work, "corpus"), args.seed)
    corpus_s = time.perf_counter() - t

    tracer = T.Tracer() if trace else None
    ctx = Ctx(None, corpus_dir, work, tracer)
    with ctx.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{wl.name}")
    ctx.spark = spark
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    restore = None
    try:
        wl.setup(ctx)
        if trace:
            restore = T.instrument(tracer, spark)
        attempted = failed = 0
        bad_writes = 0
        fetched = None
        op_spans = []
        op_steal: list[float] = []
        phases: dict[str, list] = {}

        def one_op(trace_id: str):
            """Run one op; returns its outputs, its wall time, the time it
            and its cleanup ended, and the time the benchmark spent before
            it snapshotting the warehouse."""
            nonlocal attempted, failed, bad_writes
            attempted += 1
            ctx.executed = []
            b0 = time.perf_counter()
            wl.before_op()
            s0, t0 = steal_s(), time.perf_counter()
            out = None
            try:
                if tracer:
                    tracer.built = []
                    with tracer.op(trace_id) as sp:
                        out = wl.op(ctx)
                    op_spans.append(sp)
                else:
                    out = wl.op(ctx)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
            dur = time.perf_counter() - t0
            op_steal.append(steal_s() - s0)
            wl.cleanup(ctx)
            done = time.perf_counter()
            if out is not None:
                if not wl.after_op():
                    bad_writes += 1
                if tracer:
                    built = [df for df in tracer.built
                             if not any(df is e for e in ctx.executed)]
                    phases[trace_id] = (
                        [T.catalyst_phases(df) for df in built]
                        + [T.catalyst_phases(df, plan=True) for df in ctx.executed])
            ctx.executed = []
            return out, dur, done, t0 - b0

        def settle():
            """Collect both heaps so every timed op starts from the same
            state; runs outside the timed region."""
            gc.collect()
            spark._jvm.System.gc()

        # The warm-up op fetches its outputs for the correctness check.
        ctx.fetch = True
        fetched, first_op_s, _, _ = one_op("warmup")
        ctx.fetch = False
        if fetched is not None:
            wl.after_warmup(ctx)
        setup_s = time.perf_counter() - PROCESS_T0 - corpus_s
        settle()
        op_times: list[float] = []
        timed = paused = 0.0
        start = time.perf_counter()
        i = 0
        while True:
            i += 1
            out, dur, done, snapshot_s = one_op(f"op{i}")
            if out is not None:
                op_times.append(dur)
            settle()
            paused += time.perf_counter() - done + snapshot_s
            timed = time.perf_counter() - start - paused
            if timed >= args.seconds:
                break

        gateway = spark.sparkContext._gateway
        jvm_pid = gateway.proc.pid if getattr(gateway, "proc", None) else None
        rss = peak_rss_mb([os.getpid()] + ([jvm_pid] if jvm_pid else []))

        t = time.perf_counter()
        checks = {}
        if fetched is not None:
            try:
                checks = wl.check(ctx, fetched)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                checks = {"check": False}
        check_s = time.perf_counter() - t
    finally:
        if restore:
            restore()
        stop_spark(spark)

    if not op_times:
        raise SystemExit("no timed op completed: nothing to report")
    mismatches = sum(not v for v in checks.values()) + bad_writes
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(op_times),
        "ops_per_s": len(op_times) / timed,
    }
    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "cores": cores,
        "corpus_s": corpus_s, "check_s": check_s, "timed_s": timed,
        "op_samples": op_times, "first_op_s": first_op_s,
        "op_steal_s": op_steal, "run_steal_s": steal_s() - steal0,
        "op_s_p90": (statistics.quantiles(op_times, n=10, method="inclusive")[-1]
                     if len(op_times) > 1 else op_times[0]),
        "peak_rss_mb": rss,
        "attempted": attempted, "failed": failed,
        "failed_ops_frac": failed / attempted,
        "oracle_mismatches": mismatches, "checks": checks,
        "writes": getattr(wl, "writes", None),
        "end_to_end": e2e,
    }
    correct = bool(checks) and mismatches == 0
    if trace:
        layers = traced_layers(T, tracer, op_spans, phases, work, tag, cores, wl, report)
        report["per_layer"] = layers
        metrics = {k: {"value": layers["metrics"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
        tracer.dump(os.path.join(OUT_DIR, f"{tag}-spans.jsonl"))
        with open(os.path.join(OUT_DIR, f"{tag}-layers.json"), "w") as f:
            json.dump(layers, f, indent=1, sort_keys=True)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        with open(untraced_path(wl.name), "w") as f:
            json.dump(report, f, indent=1)
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


# Per-layer metrics of the api layer, which no workload here calls.
UNAVAILABLE = {
    "api.sql_s": "no workload calls api.sql: adhoc_sql is not in the benchmark",
    "api.collect_s": "no workload calls api.sql: adhoc_sql is not in the benchmark",
}


def untraced_path(workload: str) -> str:
    """Report of the last untraced run of a workload."""
    return os.path.join(OUT_DIR, f"last-{workload}.json")


def traced_layers(T, tracer, op_spans, phases, work, tag, cores, wl, report) -> dict:
    """Median over the timed ops of each per-layer figure."""
    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    log = {"jobs": {}, "stages": {}, "tasks": []}
    if logs:
        kept = os.path.join(OUT_DIR, f"{tag}-eventlog.json")
        shutil.move(logs[0], kept)
        log = T.read_event_log(kept)
    per_op = []
    timed_ops = [s for s in op_spans if s.trace_id != "warmup"]
    for sp in timed_ops:
        m = T.op_layers(tracer.spans, sp, log, cores)
        ph = [p for p in phases.get(sp.trace_id, ()) if p is not None]
        for name in T.PHASES:
            # None when the tracker was unreachable: spans give wall time only.
            m[f"spark.catalyst.{name}_s"] = sum(p[name] for p in ph) if ph else None
        per_op.append(m)
    metrics = {k: None if per_op[0][k] is None else statistics.median(m[k] for m in per_op)
               for k in per_op[0]}
    for key in ("partitions_written", "files_written", "bytes_written"):
        writes = (report.get("writes") or [])[1:]
        metrics[f"runner.{key}"] = (statistics.median(w[key] for w in writes)
                                    if writes else 0)
    metrics["process.peak_rss_mb"] = report["peak_rss_mb"]
    gs = [s for s in tracer.spans if s.name == "session.get_spark"]
    warm = [s for s in op_spans if s.trace_id == "warmup"]
    metrics["session.get_spark_s"] = gs[0].duration
    metrics["session.first_op_s"] = warm[0].duration if warm else None
    untraced = untraced_path(wl.name)
    overhead = None
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]["op_s_p50"]
        overhead = statistics.median(s.duration for s in timed_ops) / base
    catalyst_missing = any(p is None for ps in phases.values() for p in ps)
    return {
        "workload": wl.name,
        "ops": len(per_op),
        "metrics": metrics,
        "per_op": per_op,
        "min_coverage": min(m["trace.coverage"] for m in per_op),
        "tracing_overhead": overhead,
        "tracing_overhead_base": "op_s_p50 of the last untraced run in this checkout",
        "catalyst_tracker": "unavailable: wall time only" if catalyst_missing else "ok",
        "unavailable": UNAVAILABLE,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
