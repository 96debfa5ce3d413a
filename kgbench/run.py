"""KG-pipeline benchmark: one seeded workload per invocation.

    python3 kgbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Closed loop in a single driver process on ``local[<cores>]``: start the
Spark session, build the seeded inputs three times, then run pipeline
operations back to back until ``--seconds`` have passed (at least one),
then check every operation's output.

Times are the CPU seconds of the driver's whole process tree (driver, JVM,
Python workers): ``setup_s`` is the session start plus the median input
build, ``op_cpu_s.p50`` the median operation, ``docs_per_cpu_s`` its
documents per CPU second. One pipeline call takes 20-60 s, so a run
affords one or two. On a shared 4-core host the wall time of the same
call spreads by up to a third over ten runs with the other tenants' load,
its CPU time by about a tenth: the kernel does not charge the tree for
time stolen from it.
The wall-clock ``op_s.p50`` and ``docs_per_s`` are reported with the
per-layer metrics.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations (at least untraced, traced, untraced) and
reports the per-layer metrics; its ``trace.gap_s`` is the median, over
traced operations, of the untraced operation that follows minus the traced
layer sum, so both sides of each pair run after the JVM warm-up.
Human-readable lines come first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. The exit code
is non-zero when any check fails.

``--workload all --smoke`` runs every workload at a tiny size in one
session, printing one JSON line per workload (the benchmark's own test).

Everything the run writes lives under ``.kgbench/`` in the checkout: the
per-run temporary root (inputs, checkpoint roots, warehouse tables, Spark
local dirs), deleted at exit, and the span file of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["crawl_batch", "recrawl_ingest"]
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s.p50": "s",
    "docs_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
    "triple_f1": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "op_s.p50": "s", "docs_per_s": "1/s",
    "extract_text.s": "s", "extract_text.html_mb": "MB", "extract_text.tasks": "count",
    "extract_mentions.s": "s", "extract_mentions.rows_out": "count",
    "assemble.s": "s", "assemble.rows_out": "count",
    "edges.s": "s", "edges.rows_out": "count",
    "checkpoint.commit_s": "s", "checkpoint.mb_written": "MB",
    "checkpoint.write_amp": "ratio",
    "link.s": "s", "link.distinct_mentions": "count", "link.candidates": "count",
    "link.links": "count", "link.yield": "ratio", "link.jobs": "count",
    "bootstrap.s": "s", "bootstrap.jobs": "count", "bootstrap.rows_out": "count",
    "canonicalize.s": "s", "canonicalize.jobs": "count",
    "canonicalize.components": "count", "canonicalize.merge_ratio": "ratio",
    "warehouse.merge_s": "s", "warehouse.rows_rewritten": "count",
    "warehouse.rewrite_ratio": "ratio", "warehouse.snapshot_mb": "MB",
    **{f"{layer}.failed_tasks": "count" for layer in [
        "extract_text", "extract_mentions", "link", "assemble", "bootstrap",
        "canonicalize", "edges", "checkpoint", "warehouse"]},
    "trace.gap_s": "s",
}


def machine() -> tuple[int, str]:
    """Cores this process may run on, and a driver heap of an eighth of
    physical memory, between 1 and 2 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = min(max(total_kb // 1024 // 8, 1024), 2048)
    return cores, f"{heap_mb}m"


def start_session(tmp: str):
    from pathhier_spark.session import get_spark

    cores, heap = machine()
    spark = get_spark(
        "kgbench",
        cores=cores,
        extra={
            "spark.driver.memory": heap,
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(rss) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait until
    the JVM and every Python worker it forked have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    rss.sample()
    children = rss.seen - {os.getpid()}
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if _running(p)]
        if not alive:
            return
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def run_workload(spark, session_cpu_s: float, workload: str, args, tmp: str, rss) -> dict:
    """Set up, measure and check one workload; returns the result object."""
    from kgbench import inputs, workloads
    from kgbench.tracing import Tracer, cpu_seconds

    root = os.path.join(tmp, workload)
    builds = []
    t_setup = time.perf_counter()
    for rep in range(SETUP_REPS):
        rep_root = os.path.join(root, f"inputs_{rep}")
        cpu0 = cpu_seconds(os.getpid())
        inp = inputs.build(spark, workload, rep_root, args.seed, args.smoke)
        builds.append(cpu_seconds(os.getpid()) - cpu0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(rep_root)

    wl = workloads.make(spark, workload, inp, root)
    t_ops = time.perf_counter()
    tracer = Tracer(spark, f"{workload}-seed{args.seed}")
    spark.sparkContext.setJobGroup(f"{tracer.run_id}:untraced", "untraced")
    # untraced operations, and with --trace 1 a traced one after each; the
    # trace gap pairs every traced operation with the untraced one after it
    op_s, op_cpu_s, traced, errors = [], [], [], 0
    deadline = time.perf_counter() + args.seconds
    try:
        while wl.has_next():
            if args.trace and len(traced) < len(op_s):
                op = workloads.TracedOp(tracer, f"op{len(traced)}")
                wl.run_traced(op)
                traced.append(op.metrics())
                continue
            wall, cpu = workloads.timed(wl.run)
            op_s.append(wall)
            op_cpu_s.append(cpu)
            if time.perf_counter() >= deadline and (not args.trace or traced):
                break
    except Exception as e:  # a failed operation ends the loop; report it
        print(f"operation failed: {e!r}", flush=True)
        errors += 1
    attempted = len(op_s) + len(traced) + errors
    t_check = time.perf_counter()
    failed, f1s = wl.check()
    # an operation that raised also fails its workload check; count it once
    failed = min(failed + errors, attempted)
    t_end = time.perf_counter()
    if args.trace:
        tracer.write(os.path.join(
            CHECKOUT, ".kgbench", "spans", f"{tracer.run_id}.jsonl"))

    p50, cpu_p50 = median(op_s), median(op_cpu_s)
    e2e = {
        "setup_s": session_cpu_s + median(builds),
        "op_cpu_s.p50": cpu_p50,
        "docs_per_cpu_s": wl.docs_per_op / cpu_p50 if cpu_p50 else 0.0,
        "peak_rss_mb": rss.peak_mb,
        "triple_f1": median(f1s),
    }
    layer = {name: median([t.get(name, 0.0) for t in traced]) for name in PER_LAYER}
    layer["session.start_s"] = session_cpu_s
    layer["op_s.p50"] = p50
    layer["docs_per_s"] = wl.docs_per_op / p50 if p50 else 0.0
    layer["trace.gap_s"] = median(
        [u - t["layer_sum_s"] for u, t in zip(op_s[1:], traced)])

    op_name = "ingest_batch_s.p50" if workload == "recrawl_ingest" else "build_s"
    print(f"workload {workload} seed {args.seed}: "
          f"{len(op_s)} timed and {len(traced)} traced operations; "
          f"{op_name} = op_s.p50 {p50:.6g} s wall, op_cpu_s.p50 {cpu_p50:.6g} s CPU "
          f"(n={len(op_s)}); "
          f"failed_ops = {failed}/{attempted}; "
          f"phases: inputs {t_ops - t_setup:.1f} s, operations {t_check - t_ops:.1f} s, "
          f"checks {t_end - t_check:.1f} s", flush=True)
    for name, unit in END_TO_END.items():
        print(f"  {name} {e2e[name]:.6g} {unit}")
    if args.trace:
        for name, unit in PER_LAYER.items():
            print(f"  {name} {layer[name]:.6g} {unit}")
    values, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own test")
    args = ap.parse_args(argv)
    if args.workload == "all" and not args.smoke:
        ap.error("--workload all needs --smoke")

    base = os.path.join(CHECKOUT, ".kgbench", "tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    # Spark, the JVM and the Python workers write scratch files only here
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [CHECKOUT, os.environ.get("PYTHONPATH")] if p)
    tempfile.tempdir = tmp
    sys.path.insert(0, CHECKOUT)

    from kgbench.tracing import RssSampler, cpu_seconds

    results = []
    try:
        with RssSampler() as rss:
            try:
                cpu0 = cpu_seconds(os.getpid())
                spark = start_session(tmp)
                session_cpu_s = cpu_seconds(os.getpid()) - cpu0
                for workload in WORKLOADS if args.workload == "all" else [args.workload]:
                    results.append(
                        run_workload(spark, session_cpu_s, workload, args, tmp, rss))
            finally:
                stop_jvm(rss)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for r in results:
        print(json.dumps(r), flush=True)
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
