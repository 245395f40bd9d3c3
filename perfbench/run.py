"""Benchmark command for the vectordb_testbricks_spark engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, drives the engine through
its public API, checks every output, and prints two JSON lines: a detail
record (environment, every metric with unit and sample count, checks, span
table) and, last, the result ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs a traced window between two untraced ones and reports the per-layer
metrics. Exits 1 when a check fails, 2 when the engine is not there.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("search_mix", "llm_batch")

# --trace 0: what a user of the system sees, on every workload
END_TO_END = {
    "setup_s": "s",
    "throughput": "1/s",
    "latency_mean_ms": "ms",
    "peak_rss_mb": "MB",
}

# --trace 1: per-layer metrics every workload exercises
PER_LAYER = {
    "setup.session_s": "s",
    "setup.datagen_s": "s",
    "setup.ingest_s": "s",
    "manager.read_ms": "ms",
    "manager.insert_ms": "ms",
    "manager.files_written": "count",
    "manager.bytes_written_per_user_byte": "ratio",
    "build.ms": "ms",
    "plan.ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.sched_gap_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "materialize.persisted_rdds": "count",
    "materialize.storage_mb": "MB",
    "trace.overhead_pct": "%",
}

WORK_DIR = ".perfbench_work"     # scratch inside the checkout, removed
OUT_DIR = ".perfbench_out"       # span dumps, kept


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> dict:
    """Session knobs: local[4], a driver heap that fits this size of host,
    all Spark scratch inside the checkout, the repo on the Python workers'
    path. Returns the environment record."""
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_HOSTNAME"] = "localhost"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_EXTRA_JVM_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
        "spark.ui.showConsoleProgress=false",
        "spark.ui.retainedJobs=100000",
        "spark.ui.retainedStages=100000",
        f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
    ])
    paths = os.environ.get("PYTHONPATH", "")
    if ROOT not in paths.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, paths) if p)
    return {
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pythonpath_has_repo":
            ROOT in os.environ["PYTHONPATH"].split(os.pathsep),
    }


def git_head() -> dict:
    """HEAD and a dirty flag, or nulls outside a git checkout."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=30)
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return {"head": None, "dirty": None}
    if head.returncode != 0:
        return {"head": None, "dirty": None}
    return {"head": head.stdout.strip(), "dirty": bool(dirty.stdout.strip())}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vectordb_testbricks_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
    env = configure_env(work)

    import importlib
    from harness import Bench
    from tracing import RssSampler, host_probe, steal_share

    env.update(seed=args.seed, git=git_head())
    start_probe = host_probe()
    bench = Bench(args.seed, args.seconds, bool(args.trace), work,
                  PROCESS_START)
    workload = importlib.import_module(args.workload)
    try:
        with RssSampler() as rss:
            bench.start()
            out = workload.run(bench)
            spans = bench.span_table() if args.trace else {}
    finally:
        try:
            if bench.spark is not None:
                bench.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    bench.mark("stop")
    end_probe = host_probe()
    env.update(loadavg_start=start_probe["loadavg"],
               loadavg_end=end_probe["loadavg"],
               steal_share=steal_share(start_probe, end_probe))

    failures = out["failures"]
    headline = {
        "setup_s": bench.setup_s(),
        "throughput": out["headline"]["throughput"],
        "latency_mean_ms": out["headline"]["latency_mean_ms"],
        "peak_rss_mb": rss.peak / 2**20,
    }
    if args.trace:
        os.makedirs(os.path.join(ROOT, OUT_DIR), exist_ok=True)
        bench.tracer.dump(os.path.join(
            ROOT, OUT_DIR, f"spans-{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": out["layers"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": headline[k], "unit": u}
                   for k, u in END_TO_END.items()}
    e2e = dict(out["e2e"])
    e2e["failed_frac"] = {"value": len(failures) / out["attempted"],
                          "unit": "ratio", "n": out["attempted"]}
    e2e["peak_rss_mb"] = {"value": headline["peak_rss_mb"], "unit": "MB",
                          "n": 1}
    e2e["setup_s"] = {"value": headline["setup_s"], "unit": "s",
                      "n": len(bench.setup["ingest"])}
    detail = {"workload": args.workload, "env": env, "end_to_end": e2e,
              "failures": failures[:20],
              "checked_requests": out.get("checked_requests"),
              "timeline_s": bench.timeline, "setup_reps_s": bench.setup}
    if args.trace:
        detail["per_layer"] = out["layers"]
        detail["per_layer_workload"] = out["layers_detail"]
        detail["spans"] = spans
    print(json.dumps({"detail": detail}, default=str))
    result = {"correct": not failures, "attempted": out["attempted"],
              "failed": len(failures), "metrics": metrics}
    print(json.dumps(result))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
