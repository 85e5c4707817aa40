"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload telemetry_read --seed 1 --seconds 16 --trace 0

Runs from the root of a source checkout. The session comes from
``homelogging_spark.session.get_spark`` with no extra conf on
``SPARK_GRAFT_CPUS`` = the CPUs this process may use. Every file the run
writes (inputs, landing, table, checkpoints, Spark scratch, fixture
caches) lives inside the checkout and is removed at exit, so each run
starts cold from the same state. With ``--trace 1`` the spans are kept
in ``perfbench/out/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics untraced, the
per-layer metrics traced (see ``BENCHMARK.json`` and ``LAYERS.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("telemetry_read", "ingest_readback")
ENV_PROBES = {"jvm_cpu_sec": "env.jvm_cpu_s", "jvm_str_sec": "env.jvm_str_s", "arrow_py_sec": "env.arrow_py_s"}


def _rss_peak_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory (must precede the JVM launch)."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _stop(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    worker daemons it spawned) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def _layer_metrics(ctx, timed) -> dict:
    """Per-layer numbers from the spans, job counts and layer records."""
    import workloads

    med = workloads.median
    tr = ctx.tracer
    selfs = tr.self_times()
    timed_ops = [
        o for o in (ctx.jobs.per_op if ctx.jobs else [])
        if not o["op"].startswith(("warmup:", "check:"))
    ]
    n_ops = max(len(timed_ops), 1)
    builds = selfs.get("plans.build", [])
    op_total = sum(tr.durations("op")) or 1.0
    out = {
        "session.start_s": ctx.layer["session.start_s"],
        "session.start_cpu_s": ctx.layer["session.start_cpu_s"],
        "setup.warmup_pass_s": ctx.layer["setup.warmup_pass_s"],
        "setup.warmup_pass_cpu_s": ctx.layer["setup.warmup_pass_cpu_s"],
        "check.oracle_s": ctx.layer["check.oracle_s"],
        "plans.build_s": med(builds),
        "plans.build_share": sum(builds) / op_total,
        "engine.exec_s": med(selfs.get("engine.exec", [])),
        "engine.jobs_per_op": sum(o["jobs"] for o in timed_ops) / n_ops,
        "engine.stages_per_op": sum(o["stages"] for o in timed_ops) / n_ops,
        "engine.tasks_per_op": sum(o["tasks"] for o in timed_ops) / n_ops,
        "engine.failed_tasks": sum(o["failed"] for o in timed_ops),
    }
    for key in (
        "cachelife.frames_released_per_op",
        "cachelife.release_s",
        "streaming.batches",
        "streaming.input_rows_per_batch",
        "streaming.trigger_s",
        "streaming.add_batch_s",
        "streaming.planning_s",
        "streaming.get_batch_s",
        "streaming.commit_s",
        "sources.dsmr_parse_s",
        "sources.tapo_parse_s",
        "sources.kasa_parse_s",
        "ingest.files_written_per_batch",
        "ingest.bytes_written_per_input_byte",
        "ingest.table_files",
        "ingest.rows_kept_frac",
    ):
        out[key] = ctx.layer.get(key, 0.0)
    for which in workloads.READBACKS:
        for step in ("build", "exec"):
            out[f"operators.{which}_{step}_s"] = med(selfs.get(f"operators.{which}.{step}", []))
    for probe, key in ENV_PROBES.items():
        out[key] = ctx.layer["env"][probe]
    out["mem.peak_rss_mb"] = ctx.layer["mem.peak_rss_mb"]
    n_timed = sum(len(v) for v in timed.cpu.values()) or 1
    out["jvm.background_cpu_per_op_s"] = timed.background_s / n_timed
    out["wall.batch_s"] = workloads.batch(timed.wall)
    out["wall.read_p50_s"] = workloads.read_p50(timed.wall)
    out["trace.batch_cpu_s"] = workloads.batch(timed.cpu)
    out["trace.read_cpu_p50_s"] = workloads.read_p50(timed.cpu)
    out["trace.spans"] = len(tr.spans)
    return out


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.path.insert(0, HERE)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    warehouse = os.path.join(ROOT, "spark-warehouse")
    had_warehouse = os.path.isdir(warehouse)
    before = set(os.listdir(warehouse)) if had_warehouse else set()
    _isolate(work)
    spark = None
    try:
        import workloads
        from spans import JobCounter, Tracer

        tracer = Tracer(bool(args.trace))
        start: list = []
        with tracer.span("session.start", op="setup"), workloads.measured(start):
            from homelogging_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1).count()
        start_s, start_cpu_s = start

        jobs = JobCounter(spark.sparkContext) if args.trace else None
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        ctx = workloads.Context(
            spark, args.seed, args.seconds, work, tracer, jobs, workloads.CpuMeter(jvm_pid)
        )
        ctx.layer["session.start_s"] = start_s
        ctx.layer["session.start_cpu_s"] = start_cpu_s
        if args.workload == "telemetry_read":
            timed = workloads.run_queries(ctx, workloads.TELEMETRY_QUERIES)
        else:
            timed = workloads.run_ingest(ctx)

        from homelogging_spark.functions.envprobe import calibration_probes

        with tracer.span("env.probes", op="env"):
            ctx.layer["env"] = calibration_probes(spark, n_iters=1)
        ctx.layer["mem.peak_rss_mb"] = _rss_peak_mb("self") + _rss_peak_mb(jvm_pid)

        setup_s = start_cpu_s + ctx.layer["setup.warmup_pass_cpu_s"]
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "timed_ops": sum(len(v) for v in timed.wall.values()),
            "wall_p50_s": {k: round(statistics.median(v), 4) for k, v in timed.wall.items()},
            "cpu_p50_s": {k: round(statistics.median(v), 4) for k, v in timed.cpu.items()},
            "wall_batch_s": workloads.batch(timed.wall),
            "wall_read_p50_s": workloads.read_p50(timed.wall),
            "setup_wall_s": start_s + ctx.layer["setup.warmup_pass_s"],
            "env": ctx.layer["env"],
            "failures": ctx.failures,
        }
        if args.trace:
            metrics = {
                k: {"value": v, "unit": _unit(k)} for k, v in _layer_metrics(ctx, timed).items()
            }
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            path = os.path.join(HERE, "out", f"spans-{args.workload}-seed{args.seed}.json")
            tracer.write(path)
            diag["spans_file"] = os.path.relpath(path, ROOT)
        else:
            metrics = {
                "batch_cpu_s": {"value": workloads.batch(timed.cpu), "unit": "s"},
                "read_cpu_p50_s": {"value": workloads.read_p50(timed.cpu), "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
        print("perfbench-diag " + json.dumps(diag, default=str))
        return {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        work_root = os.path.dirname(work)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
        # fixture caches the run's first touches created
        if os.path.isdir(warehouse):
            for entry in set(os.listdir(warehouse)) - before:
                p = os.path.join(warehouse, entry)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.remove(p)
            if not had_warehouse and not os.listdir(warehouse):
                os.rmdir(warehouse)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_frac", "_per_input_byte")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("homelogging_spark/session.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
