"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Runs one workload (serve or ingest) from the repository root,
checks every op's output, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run records spans
around `venice_spark`'s entry points and the metrics are per layer (spans
go to .perfbench_out/). A per-op breakdown line is printed before the
result line in both modes.

    python3 perfbench/run.py --make-golden

regenerates perfbench/golden.json, the operator queries' expected digests.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("serve", "ingest")
SCALE = 0.25  # input size against the engine's sf0.1 test tables: sf0.025
SMOKE_SCALE = 0.01  # the smoke test's input size


def _configure_env(tmp: str) -> None:
    """Process hygiene, set before pyspark or venice_spark is imported:
    local[nproc], Spark scratch, warehouse and temp files inside `tmp`, the
    repository on the Python workers' path, and a fixed 2 GB driver heap."""
    nproc = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            # a fixed heap keeps the GC's work alike from run to run; JIT
            # compiler threads kept alive keep their CPU time visible, so
            # tree_cpu_s can leave it out
            " -Xms2g -XX:-UseDynamicNumberOfCompilerThreads' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    time.tzset()
    tempfile.tempdir = tmp
    for d in ("spark-local", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)


def retained(spark) -> dict:
    """Memory the run holds once its loop is done, in MB: the Python
    driver's resident set, the JVM's heap in use after a full GC, and its
    non-heap in use (metaspace, code cache)."""
    with open("/proc/self/status") as fh:
        rss_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
    jvm = spark.sparkContext._jvm
    # the broadcasts and shuffles a GC frees are removed by Spark's
    # ContextCleaner afterwards, asynchronously; collect again once it ran
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.5)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {
        "python_rss": rss_kb / 1024.0,
        "jvm_heap": mx.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_nonheap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
    }


def _pct(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def ops_per_s(ctx) -> float:
    """Ops completed ÷ seconds spent inside ops (the checks excluded)."""
    all_lat = [x for v in ctx.lat.values() for x in v]
    return len(all_lat) / sum(all_lat) if all_lat else 0.0


def cpu_ms_per_op(ctx) -> float:
    """CPU time of the run's processes over the timed loop ÷ its ops."""
    n = sum(len(v) for v in ctx.lat.values())
    return 1e3 * ctx.loop_cpu_s / n if n else 0.0


def end_to_end(ctx, session_s: float, mem_mb: float) -> dict:
    from perfbench.trace import median

    return {
        "setup_s": {"value": session_s + ctx.warmup_s + median(ctx.setup_s), "unit": "s"},
        "cpu_ms_per_op": {"value": cpu_ms_per_op(ctx), "unit": "ms"},
        "retained_mb": {"value": mem_mb, "unit": "MB"},
    }


def op_breakdown(ctx, mem: dict) -> dict:
    """The per-op figures (by the op names the loops use), with sample
    counts. Printed on its own line; not part of the bounded result."""
    from perfbench.trace import median

    out = {}
    for kind, v in sorted(ctx.lat.items()):
        if kind.startswith("plan."):
            continue
        out[f"{kind}_p50_ms"] = {"value": 1e3 * median(v), "unit": "ms", "n": len(v)}
        if len(v) >= 20:
            out[f"{kind}_p90_ms"] = {"value": 1e3 * _pct(v, 90), "unit": "ms", "n": len(v)}
    plan = [x for k, v in ctx.lat.items() if k.startswith("plan.") for x in v]
    for k, v in ctx.lat.items():
        if k.startswith("plan."):
            out[f"{k}_s"] = {"value": median(v), "unit": "s"}
    if plan:
        out["pipeline_s"] = {"value": sum(plan) / max(1, len(ctx.lat.get("push", [1]))), "unit": "s"}
    if "push" in ctx.lat:
        out["push_s"] = {"value": median(ctx.lat["push"]), "unit": "s"}
    out["ops_per_s"] = {"value": ops_per_s(ctx), "unit": "1/s"}
    out["failed_ops_frac"] = {"value": ctx.failed / max(1, ctx.attempted), "unit": "ratio"}
    out["setup_reps_s"] = {"value": ctx.setup_s, "unit": "s"}
    out["warmup_s"] = {"value": ctx.warmup_s, "unit": "s"}
    out["loop_s"] = {"value": ctx.loop_s, "unit": "s", "rounds": ctx.rounds_run}
    for part, mb in mem.items():
        out[f"retained_{part}_mb"] = {"value": mb, "unit": "MB"}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0, help="loop length; as many whole rounds as fit")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="input size; 1.0 = sf0.1")
    ap.add_argument("--setup-reps", type=int, default=3, help="set-up copies per run")
    ap.add_argument("--make-golden", action="store_true")
    ap.add_argument("--corrupt-golden", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.make_golden and not args.workload:
        ap.error("--workload is required")

    if not os.path.isfile(os.path.join(REPO, "venice_spark", "__init__.py")):
        print("perfbench: venice_spark not found next to the benchmark", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so Spark stops and tmp is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=work)
    spark = None
    try:
        _configure_env(tmp)
        sys.path.insert(0, REPO)
        if args.make_golden:
            return _make_golden(tmp)
        t0 = time.perf_counter()
        from venice_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        result = run_workload(spark, args, tmp, session_s=time.perf_counter() - t0)
    finally:
        try:
            _stop(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(work)  # only when no other run is using it
    print(json.dumps(result))
    return 0


def run_workload(spark, args, tmp: str, session_s: float) -> dict:
    from perfbench import layers, workloads
    from perfbench.trace import Tracer

    tracer = Tracer(spark.sparkContext, bool(args.trace))
    if args.trace:
        layers.instrument(tracer)
    ctx = workloads.Ctx(
        spark,
        tracer,
        args.seed,
        args.seconds,
        workloads.Sizes(args.scale),
        tmp,
        args.setup_reps,
    )
    try:
        if args.workload == "ingest":
            golden = workloads.load_golden(args.scale)
            if args.corrupt_golden:
                golden[args.corrupt_golden] = {"rows": -1, "hash": None}
            workloads.ingest(ctx, golden)
        else:
            workloads.serve(ctx)
    finally:
        tracer.unwrap_all()
    mem = retained(spark)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "ops": op_breakdown(ctx, mem)}))
    if args.trace:
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = layers.per_layer(tracer, ctx, session_s, ops_per_s(ctx), cpu_ms_per_op(ctx))
    else:
        metrics = end_to_end(ctx, session_s, sum(mem.values()))
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def _make_golden(tmp: str) -> int:
    """Digest every operator query on the fixed corpus at each scale the
    benchmark and its smoke test use."""
    from perfbench import workloads
    from venice_spark.plans.reference_queries import QUERIES
    from venice_spark.session import get_spark

    spark = get_spark("perfbench-golden")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    try:
        for scale in (SCALE, SMOKE_SCALE):
            corpus = workloads.datagen.write_corpus(
                os.path.join(tmp, f"corpus-{scale}"), workloads.CORPUS_SEED, scale
            )
            out[repr(scale)] = {}
            for q in workloads.BULK_QUERIES:
                rows, h = workloads.digest(QUERIES[q](spark, corpus))
                out[repr(scale)][q] = {"rows": rows, "hash": h}
                print(q, scale, rows, h, flush=True)
    finally:
        _stop(spark)
    with open(workloads.GOLDEN_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
