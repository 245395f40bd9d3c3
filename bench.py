"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (r06): the FINAL printed line is a compact (<2 KB) JSON
object the driver's tail capture can always parse —
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "tests_green": bool,
   "tests_summary": "..."}
round 5's single ~5.5 KB line outgrew the driver's ~4 KB tail window and
recorded as parsed:null, losing the round's headline number.

The verbose evidence (per-query latency percentiles, a plan fingerprint
and stage metrics per headline entry, 1M-row scale entries,
concurrency/sustained QPS) is printed as an EARLIER JSON line and
written to one record file, BENCH_RUN.json ($SPARK_GRAFT_BENCH_DETAIL
overrides), in both the single-draw and the median-of-N
(SPARK_GRAFT_BENCH_DRAWS>1) modes. Every record says what it measured:
``commit`` (git HEAD, None outside a checkout), ``dirty`` (tracked files
modified) and, per headline entry:
  ``plan``   — Exchange / BroadcastExchange / Python-eval / total node
               counts of the entry's executed plan, plus ``stages``: the
               completed stages of the last repeat's job group;
  ``stages`` — that job group's jobs, stages, tasks, the union of stage
               spans, executor run/CPU/GC seconds, shuffle and spill MB
               and the three hottest stages.
Each timed repeat (and each scale attempt) runs under its own Spark job
group ``bench:<entry>:<i>``; ``perfbench/tracing.py`` decides which stages
belong to a group and reads the host CPU counters — this file keeps no
copy of either. A stale record or a plan drift shows up as a field diff
between two records.

The metric set mirrors the reference's workload definitions (QPS/latency,
search_permanently.py:36-96) reduced to per-query wall-clock; BASELINE.md
fixes the regression baseline at the first green run.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
import urllib.request
from contextlib import contextmanager

from perfbench.tracing import host_probe, spark_stages

HEADLINE = [
    "q_filter_project_limit",
    "q_count_star",
    "q_pk_range",
    "q_agg_extension",
    "q_geo_contains",
    "v_knn_cosine",
    "v_knn_l2",
    "v_knn_prefilter",
    "v_grouping_search",
    "v_bm25",
    "v_rrf_fusion",
    "v_sparse_dot",
    "v_ivf_cosine",
    "v_knn_topk15000",
    "dml_upsert",
    "dml_delete",
    "val_checksum",
    "dd_exact",
    "dd_minhash",
    "dd_simhash",
    "dd_ngram_jaccard",
    "dd_embed_cosine",
    "tx_quality",
    "tx_langid",
    "tx_fingerprint",
    "mm_decode",
    "mm_features",
    "v_weighted_fusion",
    "part_route_counts",
    "st_window_agg",
    "st_sessionize",
]


def _git_out(args: list[str]) -> str | None:
    """stdout of a git command in the repo root, None on any failure
    (no git, not a checkout) — stamping must never fail a bench run."""
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        r = subprocess.run(["git", *args], cwd=repo, capture_output=True,
                           text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def _env_num(name: str, default, cast=int):
    """``$name`` through ``cast`` (int or float), ``default`` when it is
    unset or does not parse — a typo in a knob must not kill the run (the
    rule of ``run_suite_sharded.gate_shards``)."""
    try:
        return cast(os.environ.get(name, default))
    except ValueError:
        return default


def _require_green_suite() -> dict:
    """CI-style gate: refuse to produce bench numbers over a red test suite
    (round 3 shipped artifacts with 4 known-failing tests). Runs the full
    pytest suite in a subprocess; on red, prints an error JSON line and
    exits nonzero so the recorded artifact says RED instead of numbers.
    Set SPARK_GRAFT_BENCH_REQUIRE_GREEN=0 to skip during local iteration.
    Returns a machine-readable summary merged into the bench JSON."""
    if os.environ.get("SPARK_GRAFT_BENCH_REQUIRE_GREEN", "1") == "0":
        return {"tests_green": None, "tests_summary": "skipped (env)"}
    repo = os.path.dirname(os.path.abspath(__file__))
    # sanitized env: the gate suite must run against the tests' own
    # defaults (conftest SF_DIR etc.), not whatever sf/knobs this bench
    # invocation was pointed at
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    # the gate runs SHARDED by default (r13, VERDICT r12 #7): the serial
    # suite's 11-30 min wall is why end-of-round promotions kept being
    # cut off mid-round. Same tests, same pass criteria — test files are
    # just split across N concurrent pytest subprocesses (each its own
    # local[8] session; 4 shards saturate the 32-core box).
    # SPARK_GRAFT_GATE_SHARDS=1 restores the single-process gate.
    sys.path.insert(0, os.path.join(repo, "tools"))
    from run_suite_sharded import gate_shards, run_sharded
    n_shards = gate_shards()
    if n_shards > 1:
        res = run_sharded(n_shards, env=env)
        summary, rc, failed = res["summary"], res["rc"], res["failed"]
    else:
        r = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "-q", "-rf"],
            cwd=repo, capture_output=True, text=True, env=env)
        tail = (r.stdout or "").strip().splitlines()
        summary = tail[-1] if tail else ""
        rc = r.returncode
        # -rf's short summary names the culprits — copy them into the
        # refusal record, bounded to the driver's ~2 KB tail-capture
        # window (judge r11 task 2: the r11 red gate erased the round's
        # bench artifact and the failing test was only identifiable by
        # reproducing it under synthetic load)
        failed = [ln.split(" - ")[0][:160] for ln in tail
                  if ln.startswith(("FAILED", "ERROR"))][:8]
    print(f"# pytest: {summary}", file=sys.stderr, flush=True)
    if rc != 0:
        print(json.dumps({
            "metric": "headline_queries_total_wall_clock",
            "error": "refusing to bench: pytest tests/ is RED",
            "tests_green": False,
            "tests_summary": summary,
            "failed_tests": failed,
        }), flush=True)
        sys.exit(1)
    return {"tests_green": True, "tests_summary": summary}


def _jvm_health(spark) -> dict:
    """Point-in-time JVM counters for the bimodality instrumentation
    (r07 verdict task 1): cumulative GC ms, cumulative JIT compilation
    ms, heap used, and JIT code-cache occupancy. Cheap MXBean reads —
    deltas across a scale attempt say whether a slow draw was GC debt,
    re-JIT churn, or a full code cache (compiled loops falling back to
    the interpreter was the r06 minhash cliff)."""
    try:
        mf = spark._jvm.java.lang.management.ManagementFactory
        gc_ms = 0
        beans = mf.getGarbageCollectorMXBeans()
        for i in range(beans.size()):
            gc_ms += beans.get(i).getCollectionTime()
        comp = mf.getCompilationMXBean()
        comp_ms = comp.getTotalCompilationTime() \
            if comp.isCompilationTimeMonitoringSupported() else -1
        heap_mb = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() \
            // (1 << 20)
        code_used = code_max = 0
        pools = mf.getMemoryPoolMXBeans()
        for i in range(pools.size()):
            p = pools.get(i)
            nm = p.getName()
            if "CodeHeap" in nm or "Code Cache" in nm:
                u = p.getUsage()
                code_used += u.getUsed()
                mx = u.getMax()
                code_max += mx if mx > 0 else 0
        return {"gc_ms": gc_ms, "jit_ms": comp_ms, "heap_mb": heap_mb,
                "code_cache_mb": code_used // (1 << 20),
                "code_cache_max_mb": code_max // (1 << 20)}
    except Exception:                             # noqa: BLE001
        return {}


def _first_touch_probe(budget_sec: float = 0.3, chunk_mb: int = 2,
                       nthreads: int = 4) -> float | None:
    """Measured CONCURRENT first-touch write throughput in MB/s:
    ``nthreads`` threads each write one word per 4K page of freshly
    mmapped chunks until the shared budget elapses (chunks held live so
    the allocator cannot hand back warm pages; numpy assignment drops
    the GIL, so the threads genuinely fault in parallel).

    Why this exists (r10, measured): this guest's never-touched pages
    are lazily backed by the hypervisor, and the fault path CONVOYS
    under concurrency — single-threaded first-touch runs at 2-3 GB/s,
    but 32 processes faulting simultaneously collapse to ~2 MB/s EACH
    (~67 MB/s machine-wide), while warm pages write at ~39 GB/s
    aggregate. A 32-thread Spark stage allocating fresh buffers (sort
    pages, cache batches, python-worker arenas) is exactly that
    pattern, so this number — not loadavg — is the direct signal of
    the documented 'host slow window'. The probe must be concurrent:
    a serial probe reads healthy even while the convoy pathology is
    active. Healthy: >1000 MB/s aggregate. Sick: tens of MB/s. Cost
    bounded by budget + one in-flight chunk per thread (~1 s worst
    case) AND by a per-thread touch cap — at healthy multi-GB/s an
    uncapped 0.3 s probe would itself back ~2 GB of fresh pages per
    call, draining the very resource it measures. Never bench-fatal."""
    try:
        import threading

        import numpy as np
        touched = [0] * nthreads
        cap_mb = 64                          # per thread, 256 MB total
        t0 = time.perf_counter()
        deadline = t0 + budget_sec

        def toucher(i: int) -> None:
            bufs = []
            while (time.perf_counter() < deadline
                   and touched[i] < cap_mb):
                a = np.empty(chunk_mb * 131072, dtype=np.int64)
                a[::512] = 1                # one write per 4K page
                bufs.append(a)
                touched[i] += chunk_mb
            del bufs

        threads = [threading.Thread(target=toucher, args=(i,))
                   for i in range(nthreads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        dt = time.perf_counter() - t0
        return round(sum(touched) / dt, 1) if dt > 0 else None
    except Exception:                                   # noqa: BLE001
        return None


def _host_load(p0: dict, p1: dict) -> dict:
    """Measured host activity across an interval, from two
    ``tracing.host_probe`` snapshots: average busy and steal CORES (whole
    machine, all processes) plus the 1-minute loadavg endpoints.
    busy_cores ≫ what this bench's own work accounts for = a measured
    external slow window; the classification strings cite these numbers
    instead of co-variance argument."""
    out = {"load1_start": p0["loadavg"][0], "load1_end": p1["loadavg"][0]}
    c0, c1 = p0["cpu_jiffies"], p1["cpu_jiffies"]
    dt = sum(c1) - sum(c0)
    if dt > 0:
        # busy = everything but idle(3) and iowait(4); total jiffies
        # advance ncpu * HZ per second, so busy/total * ncpu = average
        # busy cores over the interval. steal(7): jiffies the hypervisor
        # ran someone else while this VM had runnable work
        idle = c1[3] - c0[3] + (c1[4] - c0[4] if len(c1) > 4 else 0)
        ncpu = os.cpu_count() or 1
        out["busy_cores_avg"] = round(ncpu * (dt - idle) / dt, 1)
        out["ncpu"] = ncpu
        out["steal_cores_avg"] = round(
            ncpu * (p1["steal_jiffies"] - p0["steal_jiffies"]) / dt, 2)
    # point sample at interval end: the page-backing health that governed
    # (and will govern) fresh-allocation-heavy work around this interval
    ft = _first_touch_probe()
    if ft is not None:
        out["first_touch_mb_s"] = ft
    return out


@contextmanager
def _job_group(spark, group: str):
    """Run the block's Spark jobs (this thread's) under job group
    ``group``. The group is a thread-local property, cleared on exit so
    later jobs are not attributed to it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _group_stages(spark, group: str, *more: str) -> dict:
    """Stage metrics of job group ``group``, summed with the groups in
    ``more`` (a streaming attempt's runId groups, which run one after
    another with it, so their spans add). ``tracing.spark_stages``
    decides which stages belong to a group (the completed and failed
    stages of the group's jobs; SKIPPED ones and other groups' stages
    never count); the shuffle-read, spill and hottest-stage fields come
    from one more ``/stages`` read restricted to those ids. Read outside
    the timed window. ``{}`` when the UI is off or any REST read fails —
    instrumentation is never bench-fatal."""
    try:
        sc = spark.sparkContext
        by_group = spark_stages(sc)
        aggs = [by_group[g] for g in (group, *more)]
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=30) as r:
            by_id = {s["stageId"]: s for s in json.load(r)}
        stages = [by_id[i] for a in aggs for i in a.stage_ids]
    except Exception as e:                        # noqa: BLE001
        print(f"# stages of {group}: not read ({e!r:.200})", file=sys.stderr,
              flush=True)
        return {}
    mb = 1 << 20

    def tot(key):
        return sum(s.get(key) or 0 for s in stages)

    def agg(field):
        return sum(getattr(a, field) for a in aggs)

    return {
        "jobs": agg("jobs"), "n_stages": agg("stages"), "tasks": agg("tasks"),
        "span_sec": round(agg("span_s"), 3),
        # runTime is task WALL-clock (inflates when another process owns
        # the cores and tasks get descheduled); cpuTime is actual CPU.
        # run ≫ cpu → external contention or tasks waiting on Python
        # workers; cpu itself inflated → the work really grew
        "executor_run_sec": round(agg("executor_run_ms") / 1e3, 3),
        "executor_cpu_sec": round(agg("executor_cpu_ms") / 1e3, 3),
        "executor_gc_sec": round(agg("gc_ms") / 1e3, 3),
        "shuffle_read_mb": tot("shuffleReadBytes") // mb,
        "shuffle_write_mb": agg("shuffle_write_bytes") // mb,
        "mem_spill_mb": tot("memoryBytesSpilled") // mb,
        "disk_spill_mb": tot("diskBytesSpilled") // mb,
        # the 3 hottest stages by task wall-clock, so a slow entry names
        # WHICH stage holds the time instead of only the aggregate
        "top_stages": [
            {"id": s["stageId"], "tasks": s.get("numTasks"),
             "run_sec": round((s.get("executorRunTime") or 0) / 1e3, 3),
             "cpu_sec": round((s.get("executorCpuTime") or 0) / 1e9, 3),
             "name": (s.get("name") or "")[:80]}
            for s in sorted(stages, key=lambda s:
                            -(s.get("executorRunTime") or 0))[:3]],
    }


# scale entries whose stage metrics must not be read by the bare
# run>>cpu contention rule (judge r08 #7). Arrow-kernel entries have JVM
# tasks blocked on Python workers, so wall-dominated stages are the
# design. Streaming entries run their micro-batches under the query's
# own job group (Spark sets it to the stream's runId); the attempt reads
# those groups too (_stream_groups), and their trigger waits and state
# I/O make wall-dominated stages expected.
_STREAMING_ENTRIES = ("st_stream_1m", "st_sessionize_1m")
_ARROW_KERNEL_ENTRIES = ("dd_minhash_1m", "dd_ngram_1m", "v_sparse_1m",
                         "v_knn_1m")
_RUN_ID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def _stream_groups(spark) -> set[str]:
    """Job groups named like a streaming query's runId (a UUID); empty
    when the status REST read fails."""
    try:
        return {g for g in spark_stages(spark.sparkContext)
                if _RUN_ID.fullmatch(g)}
    except Exception:                             # noqa: BLE001
        return set()


def _classify_attempt(entry: str, m: dict) -> str:
    run = m.get("executor_run_sec")
    cpu = m.get("executor_cpu_sec")
    # measured host context (judge r09 task 2): every classification
    # cites the numbers recorded for THIS attempt's interval, so a slow
    # window is a measured fact, not a co-variance inference
    hl = m.get("host_load") or {}
    host = ""
    if "busy_cores_avg" in hl:
        host = (f"; measured host: {hl['busy_cores_avg']}/{hl['ncpu']} "
                f"cores busy, load1 {hl.get('load1_start')}→"
                f"{hl.get('load1_end')}")
    if run is None or cpu is None:
        return "no stage metrics (UI off or stage read failed)" + host
    ratio = run / max(cpu, 1e-9)
    if entry in _STREAMING_ENTRIES:
        return (f"streaming: run/cpu={ratio:.1f} includes the stream's "
                f"micro-batch jobs — exempt from the contention rule"
                + host)
    if entry in _ARROW_KERNEL_ENTRIES and ratio > 3:
        return (f"arrow-kernel: run/cpu={ratio:.1f} is JVM tasks waiting "
                f"on Python workers — expected shape, check top_stages "
                f"cpu for real work growth" + host)
    if ratio > 3:
        return (f"run/cpu={ratio:.1f} wall-dominated: external "
                f"contention suspect (cores owned elsewhere)" + host)
    return f"cpu-bound: run/cpu={ratio:.1f} (normal)" + host


# Measured peak scratch-disk need per gated 100M stretch entry (corpus
# staging + shuffle/spill under the tmp dir), GB. dd_ngram_100m's
# figure is the measured ~60 GB peak of the COMPLETED r11 run (two-
# phase candidate staging + eager codes materialization + zstd shuffle
# compression — SCALING_MODEL.json note; the original single-plan
# pipeline needed 130-140 GB and hit the box ceiling) plus headroom.
STRETCH_DISK_NEED_GB = {"dd_minhash_100m": 40, "v_sparse_100m": 60,
                        "dd_ngram_100m": 75}


def _scratch_dirs() -> list[str]:
    """Every directory Spark shuffle scratch may land on for a session
    launched from this environment: SPARK_LOCAL_DIRS, any spark.local.dir
    routed through SPARK_GRAFT_EXTRA_CONF, and the staging tmpdir."""
    dirs: list[str] = []
    env_dirs = os.environ.get("SPARK_LOCAL_DIRS", "")
    dirs += [d.strip() for d in env_dirs.split(",") if d.strip()]
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        k, _, v = kv.partition("=")
        if k.strip() == "spark.local.dir" and v.strip():
            dirs += [d.strip() for d in v.split(",") if d.strip()]
    dirs.append(tempfile.gettempdir())
    return dirs


def _stretch_disk_shortfall(name: str, free_gb: float | None = None
                            ) -> str | None:
    """Skip reason when the box lacks the measured scratch disk for a
    gated stretch entry, else None. A disk-preflight miss must SKIP
    loudly, never launch: the dd_ngram_100m attempt filled the box to
    92% before being killed (r11) — an unattended evidence run doing
    that would take every other artifact down with it."""
    need = STRETCH_DISK_NEED_GB.get(name)
    if need is None:
        return None
    if free_gb is None:
        # sum free space over the UNIQUE filesystems backing every
        # scratch dir Spark may spill to (ADVICE r11: shuffle scratch
        # honors SPARK_LOCAL_DIRS / spark.local.dir, which can live on a
        # different filesystem than the staging tmpdir — a preflight
        # that only looks at tmpdir can pass while the shuffle disk is
        # short, or vice versa)
        by_dev: dict[int, float] = {}
        for d in _scratch_dirs():
            try:
                by_dev[os.stat(d).st_dev] = shutil.disk_usage(d).free / 1e9
            except OSError:
                continue
        free_gb = sum(by_dev.values())
    if free_gb < need:
        return (f"insufficient scratch disk: {free_gb:.0f} GB free < "
                f"{need} GB measured peak (single-box ceiling, "
                f"SCALING_MODEL.json)")
    return None


def _cold_proc_run(name: str, sf_dir: str, want_rows: bool = False,
                   timeout_sec: int = 900,
                   extra_env: dict | None = None):
    """True process-cold measurement of one scale entry: a fresh
    subprocess JVM (new driver, new session, zero JIT state) runs the
    entry once and reports its wall clock (and row count when
    ``want_rows``). Returns None if the subprocess fails — cold evidence
    is optional, never bench-fatal — but the failure REASON is printed
    (r09: a stretch subprocess that timed out during a host slow window
    left a silent hole in the committed artifact)."""
    repo = os.path.dirname(os.path.abspath(__file__))
    # the subprocess probes HOST load around its own timed region (judge
    # r09 task 2): loadavg + /proc/stat busy-core average for exactly the
    # interval being measured — the primary measured-slow-window signal —
    # plus proc_cpu_sec = python driver rusage + JVM getProcessCpuTime
    # (Arrow-kernel python workers are grandchildren and excluded; the
    # host counters cover them). wall vs host busy_cores separates "work
    # grew" from "machine was busy".
    code = (
        "import json, os, resource, time\n"
        "import bench\n"
        "import __spark_entry__ as E\n"
        "from perfbench.tracing import host_probe\n"
        "from vectordb_testbricks_spark.session import get_spark\n"
        "spark = get_spark('bench_cold')\n"
        "p0 = host_probe()\n"
        "t0 = time.perf_counter()\n"
        f"n = E.{name}(spark, {sf_dir!r}).count()\n"
        "wall = time.perf_counter() - t0\n"
        "p1 = host_probe()\n"
        "hl = bench._host_load(p0, p1)\n"
        "try:\n"
        "    osb = spark._jvm.java.lang.management.ManagementFactory"
        ".getOperatingSystemMXBean()\n"
        "    jvm_cpu = osb.getProcessCpuTime() / 1e9\n"
        "except Exception:\n"
        "    jvm_cpu = 0.0\n"
        "spark.stop()\n"
        "ru_s = resource.getrusage(resource.RUSAGE_SELF)\n"
        "ru_c = resource.getrusage(resource.RUSAGE_CHILDREN)\n"
        "hl['proc_cpu_sec'] = round(ru_s.ru_utime + ru_s.ru_stime"
        " + ru_c.ru_utime + ru_c.ru_stime + jvm_cpu, 1)\n"
        "hl['wall_sec'] = round(wall, 3)\n"
        "print('COLDPROC', round(wall, 3), n, json.dumps(hl),"
        " flush=True)\n")
    env = None
    if extra_env:
        env = dict(os.environ)
        env.update(extra_env)
    try:
        r = subprocess.run([sys.executable, "-c", code], cwd=repo,
                           capture_output=True, text=True,
                           timeout=timeout_sec, env=env)
    except subprocess.TimeoutExpired:
        print(f"# cold_proc {name}: TIMEOUT after {timeout_sec}s",
              flush=True)
        return None
    for line in reversed((r.stdout or "").splitlines()):
        if line.startswith("COLDPROC "):
            parts = line.split(maxsplit=3)
            host_load = {}
            if len(parts) > 3:
                try:
                    host_load = json.loads(parts[3])
                except json.JSONDecodeError:
                    pass
            if want_rows:
                return float(parts[1]), int(parts[2]), host_load
            return float(parts[1])
    print(f"# cold_proc {name}: FAILED rc={r.returncode} "
          f"stderr_tail={((r.stderr or '')[-300:])!r}", flush=True)
    return None


#: closed-loop workers of every sustained search block — the reference's
#: concurrency 10 (go_bench/config.yaml:1-26)
SUSTAINED_WORKERS = 10


def _sustained_record(rep, hp0: dict, **extra) -> dict:
    """The record of one ``run_sustained_searches`` loop at nq=1:
    ``SUSTAINED_WORKERS`` workers, the block's ``extra`` fields
    (``pool_size``, ``top_k``), the report's counts and rates, and the
    host load since the start probe ``hp0``."""
    total_ops = rep.n_searches + rep.failures
    return {
        "workers": SUSTAINED_WORKERS, "nq": 1, **extra,
        "duration_sec": round(rep.duration_sec, 1),
        "searches": rep.n_searches, "failures": rep.failures,
        "stragglers": rep.stragglers,
        # the reference's success-rate metric (search_permanently.py:36-96)
        "success_rate": (round(rep.n_searches / total_ops, 6)
                         if total_ops else None),
        "qps": round(rep.qps, 2),
        "latency_sec": rep.latency,
        "host_load": _host_load(hp0, host_probe()),
    }


def _memo_builds() -> dict[str, int]:
    """Session-memo builds so far in this process, per slot tag."""
    from vectordb_testbricks_spark.session import memo_stats
    return {tag: st["builds"] for tag, st in memo_stats().items()}


# physical nodes that run Python (row-at-a-time or Arrow-batched UDFs)
_PY_EVAL_NODES = ("BatchEvalPythonExec", "ArrowEvalPythonExec",
                  "MapInArrowExec", "MapInPandasExec",
                  "FlatMapGroupsInPandasExec")


def _plan_fingerprint(df) -> dict:
    """Node-class counts of ``df``'s executed physical plan: shuffle
    ``exchange``s, ``broadcast`` exchanges, ``python`` eval nodes and
    total ``nodes``. The walk looks through AQE wrappers and into
    subqueries; it plans ``df`` but runs nothing. Empty dict when the
    plan cannot be read — instrumentation is never bench-fatal."""
    counts = {"exchange": 0, "broadcast": 0, "python": 0, "nodes": 0}
    try:
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if name.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            counts["nodes"] += 1
            if name == "ShuffleExchangeExec":
                counts["exchange"] += 1
            elif name == "BroadcastExchangeExec":
                counts["broadcast"] += 1
            elif name in _PY_EVAL_NODES:
                counts["python"] += 1
            for seq in (node.children(), node.subqueries()):
                stack.extend(seq.apply(i) for i in range(seq.size()))
    except Exception:                             # noqa: BLE001
        return {}
    return counts


def _write_detail(detail: dict) -> None:
    """Durable verbose-evidence side file + earlier stdout JSON line —
    ONE implementation of the tail-capture contract shared by main() and
    _run_draws (a diverging copy let a long suite summary overflow the
    <2 KB final line in one mode but not the other).

    Every record is stamped with the ``commit`` it measured and whether
    tracked files were ``dirty``, and goes to ``BENCH_RUN.json`` unless
    ``SPARK_GRAFT_BENCH_DETAIL`` names another path."""
    detail = dict(detail, commit=_git_out(["rev-parse", "HEAD"]),
                  dirty=bool(_git_out(["status", "--porcelain",
                                       "--untracked-files=no"])))
    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL",
                                 os.path.join(repo, "BENCH_RUN.json"))
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:          # read-only checkout: stdout line suffices
        print(f"# bench detail not written to {detail_path}: {e}",
              flush=True)
    print(json.dumps(detail), flush=True)


def _emit_final(out: dict) -> None:
    """Print the FINAL compact (<2 KB) JSON line the driver tail-parses:
    trim the free-text field first, then the per-query map — the headline
    total must always survive."""
    out["tests_summary"] = str(out.get("tests_summary", ""))[:120]
    line = json.dumps(out)
    if len(line) >= 2000:
        out.pop("queries", None)
        out["queries_note"] = "trimmed to fit tail capture; see BENCH_RUN.json"
        line = json.dumps(out)
    print(line, flush=True)


def _run_draws(n_draws: int) -> None:
    """Median-of-N evidence mode (r07 verdict task 2): run the whole
    bench N times, each in a FRESH subprocess JVM (honest independent
    draws, no shared JIT/GC state), pick the draw with the MEDIAN
    headline total as the recorded numbers, and embed every raw draw
    total in the record — a number that happens to be the round's best
    draw cannot gate regressions. Enabled with SPARK_GRAFT_BENCH_DRAWS=N
    (a plain run stays a single draw). The suite gate runs
    once, up front — not once per draw."""
    suite = _require_green_suite()
    repo = os.path.dirname(os.path.abspath(__file__))
    draws = []
    for i in range(n_draws):
        # NamedTemporaryFile(delete=False) + finally-unlink: mktemp is
        # race-prone, and the old unlink-inside-try leaked the file
        # whenever json.load failed (r08 ADVICE)
        with tempfile.NamedTemporaryFile(
                prefix=f"bench_draw{i}_", suffix=".json",
                delete=False) as tf:
            detail_path = tf.name
        try:
            env = dict(os.environ)
            env["SPARK_GRAFT_BENCH_INNER"] = "1"
            env["SPARK_GRAFT_BENCH_REQUIRE_GREEN"] = "0"
            env["SPARK_GRAFT_BENCH_DETAIL"] = detail_path
            r = subprocess.run(
                [sys.executable, os.path.join(repo, "bench.py")],
                cwd=repo, capture_output=True, text=True, env=env)
            summary = None
            for line in reversed((r.stdout or "").splitlines()):
                line = line.strip()
                if line.startswith("{"):
                    try:
                        summary = json.loads(line)
                        break
                    except json.JSONDecodeError:
                        continue
            if r.returncode != 0 or summary is None:
                print(f"# draw {i}: FAILED rc={r.returncode}", flush=True)
                print((r.stderr or "")[-800:], flush=True)
                continue
            try:
                with open(detail_path) as f:
                    detail = json.load(f)
            except (OSError, json.JSONDecodeError):
                detail = {}
        finally:
            try:
                os.unlink(detail_path)
            except OSError:
                pass
        draws.append((summary, detail))
        print(f"# draw {i}: total {summary.get('value')}s", flush=True)
    if not draws:
        print(json.dumps({"metric": "headline_queries_total_wall_clock",
                          "value": -1.0, "unit": "sec",
                          "error": "all draws failed", **suite}), flush=True)
        raise SystemExit(1)
    draws.sort(key=lambda d: d[0].get("value", 1e9))
    med_summary, med_detail = draws[len(draws) // 2]
    med_detail["draws"] = len(draws)
    med_detail["draw_totals"] = [d[0].get("value") for d in draws]
    # enumerate scale entries across ALL draws — keying off draws[0]
    # alone silently dropped the per-draw warm evidence whenever that one
    # draw's detail file failed to load
    scale_names = sorted({name for _, det in draws
                          for name in (det.get("scale") or {})})
    med_detail["draw_scale_warm"] = {
        name: [d[1].get("scale", {}).get(name, {}).get("warm_sec")
               for d in draws]
        for name in scale_names}
    # ... and the full per-draw scale sections (runs + attempt_metrics):
    # the first 3-draw artifact caught the dd_minhash slow mode in two
    # NON-median draws and threw away exactly the run-vs-cpu metrics
    # that discriminate its cause — the side file has room, keep them
    med_detail["draw_scale_detail"] = {
        name: [d[1].get("scale", {}).get(name) for d in draws]
        for name in scale_names}
    # per-draw headline medians + latency bands (judge r09 task 6): the
    # sub-second noise policy is checkable only if consecutive draws'
    # medians AND the min/max bands they must fall inside are both in
    # the committed artifact, not just the median draw's
    med_detail["draw_queries"] = [d[0].get("queries") for d in draws]
    for key in ("sustained", "sustained_pooled", "sustained_mixed",
                "concurrency", "host_load", "latency"):
        field = "host_load_headline" if key == "host_load" else key
        med_detail[f"draw_{key}"] = [d[1].get(field) for d in draws]
    # stretch across ALL draws too (r09): the median draw's stretch
    # alone left a hole when one subprocess timed out in a host slow
    # window — per-draw values expose both the miss and the spread
    stretch_names = sorted({name for _, det in draws
                            for name in (det.get("stretch") or {})})
    med_detail["draw_stretch"] = {
        name: [d[1].get("stretch", {}).get(name) for d in draws]
        for name in stretch_names}
    _write_detail(med_detail)
    med_summary.update(suite)
    med_summary["draws"] = len(draws)
    _emit_final(med_summary)


def main() -> None:
    n_draws = _env_num("SPARK_GRAFT_BENCH_DRAWS", 1)
    if n_draws > 1 and os.environ.get("SPARK_GRAFT_BENCH_INNER") != "1":
        _run_draws(n_draws)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    suite = _require_green_suite()

    # THIS bench session runs with the UI on so every headline entry and
    # scale attempt can read its job group's stage metrics from the status
    # REST API (_group_stages). The env var is scoped to the builder call and
    # restored right after: _cold_proc_run / stretch subprocesses inherit
    # os.environ, and a leaked UI=1 added Jetty/event-listener startup to
    # every "true process-cold" number while buying nothing (the
    # subprocesses never query the UI).
    from vectordb_testbricks_spark.session import get_spark
    import __spark_entry__ as entrymod

    ui_prev = os.environ.get("SPARK_GRAFT_UI")
    os.environ["SPARK_GRAFT_UI"] = ui_prev or "1"
    try:
        spark = get_spark("bench")
    finally:
        if ui_prev is None:
            del os.environ["SPARK_GRAFT_UI"]
        else:
            os.environ["SPARK_GRAFT_UI"] = ui_prev
    # Resolve module-level query functions first: the driver registry
    # consolidates variants (e.g. v_knn_* union) to fit its correctness-row
    # budget, but the bench keeps the original per-variant functions so
    # per-query timings stay comparable with the recorded BASELINE.
    registry = entrymod.queries()
    qmap = {name: getattr(entrymod, name, None) or registry[name]
            for name in HEADLINE}

    # warm the JVM/file-listing paths outside the timed region
    from vectordb_testbricks_spark.catalog import load_table
    load_table(spark, sf_dir, "lineitem").count()

    # One untimed warm-up pass (plan compilation, shared token/index
    # materializations), then the timed pass — reports steady-state
    # per-query wall-clock, the regime that matters at scale where
    # compile cost is noise. Set SPARK_GRAFT_BENCH_WARMUP=0 for cold runs.
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    if warmup:
        for name in HEADLINE:
            qmap[name](spark, sf_dir).count()

    # SPARK_GRAFT_BENCH_REPEAT=N (default 3 since r05 — sub-second queries
    # whipsawed ±70% on single runs) runs each query N times and reports
    # the reference's latency metric set (avg/p50/p95/p99/min/max,
    # search_permanently.py:36-96) per query; the headline per-query value
    # stays a single steady-state wall-clock (the median across runs) so
    # totals remain comparable with the recorded BASELINE.
    repeat = max(1, _env_num("SPARK_GRAFT_BENCH_REPEAT", 3))
    # the historically noisiest sub-second queries (judge r06 noted them
    # whipsawing ±30-70% between same-code runs — host-load variance, not
    # plan changes) get extra repeats so their medians are trustworthy
    # for regression calls; everything else keeps the global repeat so
    # totals remain comparable across rounds (the headline value is a
    # median either way). Costs ~12 s per bench.
    noisy = {"v_rrf_fusion", "v_weighted_fusion", "dd_minhash",
             "dd_ngram_jaccard", "mm_decode", "v_sparse_dot"}
    # sub-second noise policy (judge r09 task 6, documented in
    # BASELINE.md): entries whose median lands under 0.4 s get their
    # repeat count raised to >=5 — at that latency, host scheduling
    # noise is a large fraction of the measurement and 3-run medians
    # produced phantom >10% "regressions" on byte-unchanged plans. The
    # per-entry min/max band is recorded in `latency` either way;
    # round-over-round comparison of a sub-second entry is a regression
    # only when the medians fall outside each other's recorded band.
    sub_second_repeat = max(5, repeat)
    timings: dict[str, float] = {}
    latency: dict[str, dict] = {}
    # session-memo builds during repeats 2..N per entry and slot tag: a
    # steady-state timing that silently rebuilt an index shows up here,
    # named by its slot
    memo_rebuilds: dict[str, dict[str, int]] = {}
    # per-entry plan fingerprint of the result the oracle checks, and the
    # stage metrics of the last repeat's job group (read outside the timed
    # window)
    plans: dict[str, dict] = {}
    stages: dict[str, dict] = {}
    hp_head0 = host_probe()
    for name in HEADLINE:
        fn = qmap[name]
        runs = []
        want = (max(repeat, 5) if name in noisy and repeat > 1
                else repeat)
        while len(runs) < want:
            if len(runs) == 1:
                builds0 = _memo_builds()
            group = f"bench:{name}:{len(runs)}"
            with _job_group(spark, group):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                n = df.count()
                runs.append(time.perf_counter() - t0)
            if (len(runs) == want and repeat > 1
                    and sorted(runs)[len(runs) // 2] < 0.4):
                want = max(want, sub_second_repeat)
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 3)
        if len(runs) > 1:
            memo_rebuilds[name] = {
                tag: n - builds0.get(tag, 0)
                for tag, n in _memo_builds().items()
                if n != builds0.get(tag, 0)}
        stages[name] = _group_stages(spark, group)
        plans[name] = _plan_fingerprint(df)
        if stages[name]:
            plans[name]["stages"] = stages[name]["n_stages"]
        print(f"# {name}: {timings[name]:.3f}s rows={n} n_runs={len(runs)}",
              flush=True)
        if repeat > 1:
            from vectordb_testbricks_spark.validators import percentile_stats
            latency[name] = {k: round(v, 4) for k, v in
                             percentile_stats(runs).items()}
    head_host = _host_load(hp_head0, host_probe())

    # concurrent-QPS entry: the reference's headline serving metric is
    # QPS under a concurrent worker pool (search_permanently.py:36-96,
    # async_search.py worker pool; go_bench drives concurrency 10,
    # config.yaml:1-26), not just single-query latency. Two matched paths
    # over the same corpus and query family:
    #   pool    — 16 single-query (nq=1) cosine top-k searches through the
    #             V10 async machinery (run_async_searches: per-thread job
    #             groups over the shared scheduler pool), 8 workers.
    #   batched — the SAME 16 query vectors as ONE nq=16 plan (broadcast
    #             queries ⨯ base, two-phase WindowGroupLimit top-k).
    # Recording both evidences the design claim that in Spark, batching
    # queries into one plan beats thread-pooling independent plans.
    # Disable with SPARK_GRAFT_BENCH_CONCURRENCY=0.
    from vectordb_testbricks_spark.operators.search import (
        knn_search, prepare_search_pool)
    from vectordb_testbricks_spark.workload import run_sustained_searches

    def _knn_nq(ids):
        # shared search-plan builder for the concurrency AND sustained
        # blocks: nq = len(ids) cosine top-10 over the embeddings table
        emb, q = entrymod._emb_queries(spark, sf_dir, ids=ids)
        return knn_search(emb, q, "embedding", "vec_id",
                          metric="COSINE", k=10)

    concurrency: dict = {}
    if os.environ.get("SPARK_GRAFT_BENCH_CONCURRENCY", "1") != "0":
        from vectordb_testbricks_spark.workload import run_async_searches

        _knn_nq((0,)).count()        # plan warm-up outside the timed region
        hp_c0 = host_probe()         # own probe (judge r10 task 2): this
        # block's numbers whipsaw under host convoys and need in-window
        # self-classification, same as the headline probe
        rep = run_async_searches(
            spark, [lambda i=i: _knn_nq((i,)) for i in range(16)],
            max_workers=8)
        # batched side: median of 3 — a single run whipsawed 0.97-1.69s
        # across r07 artifacts, enough to blur the pool-vs-batched margin
        # (the pool side is already an aggregate over 16 tasks)
        bruns = []
        for _ in range(3):
            t0 = time.perf_counter()
            _knn_nq(tuple(range(16))).count()
            bruns.append(time.perf_counter() - t0)
        batched_sec = sorted(bruns)[1]
        concurrency = {
            "pool": {
                "tasks": len(rep.outcomes), "workers": 8, "nq_per_task": 1,
                "successes": rep.successes, "failures": rep.failures,
                "timeouts": rep.timeouts,
                "wall_clock_sec": round(rep.wall_clock_sec, 3),
            },
            "batched": {"nq": 16,
                        "wall_clock_sec": round(batched_sec, 3),
                        "runs": [round(b, 3) for b in bruns]},
            "concurrency_qps": round(rep.qps, 2),
            "batched_nq16_qps": round(16.0 / max(batched_sec, 1e-9), 2),
            "host_load": _host_load(hp_c0, host_probe()),
        }
        print(f"# concurrency: pool {concurrency['concurrency_qps']} qps "
              f"({rep.successes}/{len(rep.outcomes)} ok, "
              f"{concurrency['pool']['wall_clock_sec']}s wall) vs "
              f"batched nq=16 {concurrency['batched_nq16_qps']} qps "
              f"({concurrency['batched']['wall_clock_sec']}s)", flush=True)

    # sustained-throughput mode (judge r08 #2): the reference's headline
    # operating point is CLOSED-LOOP concurrency-10 driving for a fixed
    # duration (go_bench/config.yaml:1-26 — concurrency 10, 600 s runs,
    # nq=1; metric set search_permanently.py:36-96), not one-shot task
    # batches. 10 workers loop single-nq cosine top-k searches with
    # rotating query vectors for SPARK_GRAFT_BENCH_SUSTAINED_SEC seconds
    # (default 90, sized so the ~7-8 qps closed loop clears 500+ searches;
    # 0 disables), reporting steady QPS + p50/p95/p99 —
    # the GC-churn/steady-state regime the one-shot pool (~1.6 s wall)
    # cannot observe. Runs before the scale block for the same JVM-debt
    # hygiene reason as the concurrency block.
    sustained: dict = {}
    sustained_sec = _env_num("SPARK_GRAFT_BENCH_SUSTAINED_SEC", 90.0, float)
    if sustained_sec > 0:
        def _sustained_task(widx: int, seq: int):
            # rotate query vectors so the loop never re-measures one
            # cached result; the plan shape is the shared _knn_nq
            return _knn_nq(((widx * 97 + seq * 13) % 256,))

        _sustained_task(0, 0).count()   # plan-path warm-up, untimed
        hp_s0 = host_probe()            # own probe (judge r10 task 2):
        # the ad-hoc closed loop read 2.4-9.8 QPS on IDENTICAL code
        # across the r10 bisect — without an in-window probe the number
        # is unusable as a regression signal
        rep = run_sustained_searches(spark, _sustained_task,
                                     workers=SUSTAINED_WORKERS,
                                     duration_sec=sustained_sec)
        sustained = _sustained_record(rep, hp_s0)
        print(f"# sustained: {rep.n_searches} searches in "
              f"{rep.duration_sec:.1f}s = {rep.qps:.2f} qps, "
              f"p50={rep.latency.get('p50')} p99={rep.latency.get('p99')} "
              f"failures={rep.failures}", flush=True)

    # prepared-pool serving twin (judge r10 task 2): the SAME closed
    # loop — 10 workers, rotating nq=1 cosine top-10 — but each request
    # re-executes one of 32 PREPARED plans (search.prepare_search_pool)
    # instead of re-building + re-analyzing a fresh DataFrame. This is
    # the host-ROBUST serving figure: the r10 7-run bisect showed the
    # ad-hoc loop whipsawing 2.4-9.8 QPS on identical code (first-touch
    # convoys hit the many-small-driver-jobs path hardest) while the
    # pooled/batched paths stayed inside their band; it also mirrors the
    # reference driver's fixed-query-set reuse (go_bench/config.yaml:24).
    # Each round now reports one host-sensitive number (`sustained`) and
    # this stable one. Same duration knob; disable with the same env.
    sustained_pooled: dict = {}
    if sustained_sec > 0:
        emb_p, _ = entrymod._emb_queries(spark, sf_dir, ids=(0,))
        sides = [entrymod._emb_queries(spark, sf_dir, ids=(i,))[1]
                 for i in range(32)]
        pool = prepare_search_pool(emb_p, sides, "embedding", "vec_id",
                                   metric="COSINE", k=10)

        def _pooled_task(widx: int, seq: int):
            return pool[(widx * 97 + seq * 13) % len(pool)]

        _pooled_task(0, 0).count()      # plan warm-up, untimed
        hp_p0 = host_probe()
        rep = run_sustained_searches(spark, _pooled_task,
                                     workers=SUSTAINED_WORKERS,
                                     duration_sec=sustained_sec)
        sustained_pooled = _sustained_record(rep, hp_p0, pool_size=len(pool))
        print(f"# sustained_pooled: {rep.n_searches} searches in "
              f"{rep.duration_sec:.1f}s = {rep.qps:.2f} qps (32-plan "
              f"pool), p50={rep.latency.get('p50')} "
              f"p99={rep.latency.get('p99')} failures={rep.failures}",
              flush=True)

    # mixed-op sustained loop (judge r10 task 7): the reference's
    # pressure bricks interleave insert/upsert/delete/query/count/search
    # (milvus_client/requests/_pressure.py:11-18) — this drives that op
    # mix closed-loop for SPARK_GRAFT_BENCH_SUSTAINED_MIXED_SEC seconds
    # (default 90; 0 disables) with 10 workers, each against its own
    # managed collection (single-writer commit protocol; the reference's
    # per-process pressure pods have the same shape), exercising the DML
    # write path under concurrency with the straggler/cancel machinery.
    sustained_mixed: dict = {}
    mixed_sec = _env_num("SPARK_GRAFT_BENCH_SUSTAINED_MIXED_SEC", 90.0,
                         float)
    if mixed_sec > 0:
        from vectordb_testbricks_spark.manager import CollectionManager
        from vectordb_testbricks_spark.schema import FieldSpec, SchemaSpec
        from vectordb_testbricks_spark.workload import (
            WorkloadRunner, run_sustained_mixed)
        wh = tempfile.mkdtemp(prefix="bench_mixed_wh_")
        mgr = CollectionManager(spark, wh)

        def _make_runner(widx: int) -> WorkloadRunner:
            name = f"pressure_w{widx}"
            mgr.create_collection(SchemaSpec(name, [
                FieldSpec("pk", "INT64", primary=True),
                FieldSpec("category", "INT64"),
                FieldSpec("float_1", "DOUBLE"),
                FieldSpec("varchar_1", "VARCHAR"),
                FieldSpec("json_1", "JSON"),
                FieldSpec("embedding", "FLOAT_VECTOR", dim=8),
            ]))
            return WorkloadRunner(mgr, name, "pk", vec_col="embedding",
                                  seed=42 + widx, dim=8)

        hp_m0 = host_probe()
        rep = run_sustained_mixed(spark, _make_runner, workers=10,
                                  duration_sec=mixed_sec, nb=50)
        sustained_mixed = {
            "workers": 10, "nb": 50,
            "duration_sec": round(rep.duration_sec, 1),
            "total_ops": rep.total_ops,
            "total_failures": rep.total_failures,
            "stragglers": rep.stragglers,
            "success_rate": (round(rep.success_rate, 6)
                             if rep.success_rate is not None else None),
            "ops_per_sec": round(rep.ops_per_sec, 2),
            "ops": rep.ops,
            "post_validation": rep.post_validation,
            "host_load": _host_load(hp_m0, host_probe()),
        }
        pv = rep.post_validation or {}
        print(f"# sustained_mixed: {rep.total_ops} ops in "
              f"{rep.duration_sec:.1f}s = {rep.ops_per_sec:.2f} ops/s, "
              f"failures={rep.total_failures} "
              f"stragglers={rep.stragglers} "
              f"post_validation=ok:{pv.get('ok')} "
              f"validated:{pv.get('validated')} "
              f"skipped:{pv.get('skipped')} per-op="
              + json.dumps({k: v['n'] for k, v in rep.ops.items()}),
              flush=True)
        shutil.rmtree(wh, ignore_errors=True)

    # the reference's FULL sustained operating point (judge r09 task 3):
    # closed-loop concurrency 10 for 600 s at top_k=15000 with rotating
    # query vectors (go_bench/config.yaml:19-26). Off by default — this
    # is a one-shot committed-evidence run, not a per-round cost; enable
    # with SPARK_GRAFT_BENCH_SUSTAINED600_SEC=600. The block lands in
    # the detail record as ``sustained_600s``.
    sustained600: dict = {}
    s600_sec = _env_num("SPARK_GRAFT_BENCH_SUSTAINED600_SEC", 0.0, float)
    if s600_sec > 0:
        # prepared-plan pool: one persisted corpus + 100 distinct query
        # vectors, each search reusing its prepared DataFrame (the
        # reference driver loads a fixed query-vector set once,
        # config.yaml:24; per-request Catalyst re-analysis of the same
        # plan measured as 2.7x the serving cost — see
        # operators/search.py prepare_search_pool). Execution — jobs,
        # scoring, window, 15000-row collect — is per-request.
        base15k = entrymod._topk15000_base(spark).persist()
        base15k.count()
        pool = prepare_search_pool(
            base15k,
            [entrymod._topk15000_query(spark, (i * 997) % 120_000)
             for i in range(100)],
            "embedding", "pk", metric="COSINE", k=15000)

        def _s600_task(widx: int, seq: int):
            return pool[(widx * 7 + seq * 13) % len(pool)]

        _s600_task(0, 0).count()        # plan warm-up, untimed
        hp0 = host_probe()
        rep = run_sustained_searches(spark, _s600_task,
                                     workers=SUSTAINED_WORKERS,
                                     duration_sec=s600_sec)
        sustained600 = _sustained_record(rep, hp0, top_k=15000)
        print(f"# sustained600: {rep.n_searches} searches in "
              f"{rep.duration_sec:.1f}s = {rep.qps:.2f} qps @ k=15000, "
              f"p50={rep.latency.get('p50')} p99={rep.latency.get('p99')} "
              f"failures={rep.failures} stragglers={rep.stragglers}",
              flush=True)
        base15k.unpersist()

    # (Concurrency + sustained measured BEFORE the scale/stretch block on
    # purpose: the 1M/10M entries leave the long-lived JVM with GC debt
    # that depressed a trailing concurrency measurement 4x — r07 runs
    # recorded 1.9 qps after the stretch vs 8-10 qps on a fresh JVM.
    # Order is evidence hygiene, not a speedup.)
    # scale-evidence entries: run outside the repeat/median loop and
    # outside the headline total (they are 1M-row generated corpora whose
    # point is "the design survives 200× the fixture", not steady-state
    # latency; keeping them out of `queries` keeps the total comparable
    # with BASELINE.md). Each entry runs TWICE in this JVM with caches
    # cleared between attempts, and the fields say what they measure
    # (judge r06 #2 — the old single "sec" was a warm number labeled
    # cold):
    #   cache_cleared_first_sec — attempt 1 (data caches cleared, but the
    #     JVM is JIT-warm from the headline phase; NOT process-cold)
    #   warm_sec — min of the attempts, the JIT-settled number
    #   runs — both raw values (some JVM launches settle into a state
    #     where one CPU-heavy entry runs 3-5× slower — the raw pair
    #     exposes those as environment, not regression)
    #   cold_proc_sec — OPTIONAL true cold: the entry executed once in a
    #     fresh subprocess JVM (new process, new session, nothing JIT'd).
    #     Enabled with SPARK_GRAFT_BENCH_SCALE_COLD_PROC=1; off by
    #     default because 9 extra JVM launches add ~5 min. All cold-proc
    #     launches (and the 10M stretch) run AFTER this bench's own Spark
    #     JVM is stopped: a subprocess racing the parent's 32-thread JVM
    #     for cores/memory recorded 2-2.5× inflated "cold" numbers
    #     (dd_minhash_1m 32s vs 70s across two r07 runs — pure contention,
    #     same code).
    # Disable the whole block with SPARK_GRAFT_BENCH_SCALE=0.
    scale: dict[str, dict] = {}
    cold_proc = os.environ.get(
        "SPARK_GRAFT_BENCH_SCALE_COLD_PROC", "0") == "1"
    # SPARK_GRAFT_BENCH_SCALE_ONLY=a,b,c restricts the scale block to the
    # named entries (diagnosis runs); default is the full set
    scale_only = {s for s in os.environ.get(
        "SPARK_GRAFT_BENCH_SCALE_ONLY", "").split(",") if s}
    if os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1") != "0":
        for name in ("dd_minhash_1m", "dd_ngram_1m", "v_ivf_1m",
                     "v_ivf_persisted_1m", "dd_embed_1m", "v_bm25_1m",
                     "v_sparse_1m", "v_knn_1m",
                     "st_stream_1m", "st_sessionize_1m"):
            if scale_only and name not in scale_only:
                continue
            fn = getattr(entrymod, name)
            runs, n, attempt_metrics = [], 0, []
            attempts = max(2, _env_num("SPARK_GRAFT_BENCH_SCALE_ATTEMPTS", 2))
            for a in range(attempts):
                # isolate each attempt: clear headline/scale caches, then
                # double full-GC with a settle pause (one pass right
                # after clearCache leaves old-gen debt that swung
                # dd_minhash_1m 15s → 69s)
                spark.catalog.clearCache()
                spark._jvm.System.gc()
                time.sleep(1.0)
                spark._jvm.System.gc()
                h0 = _jvm_health(spark)
                streaming = name in _STREAMING_ENTRIES
                known = _stream_groups(spark) if streaming else set()
                hp0 = host_probe()
                group = f"bench:{name}:{a}"
                with _job_group(spark, group):
                    t0 = time.perf_counter()
                    n = fn(spark, sf_dir).count()
                    runs.append(round(time.perf_counter() - t0, 3))
                hp1 = host_probe()
                h1 = _jvm_health(spark)
                run_ids = (sorted(_stream_groups(spark) - known)
                           if streaming else [])
                m = _group_stages(spark, group, *run_ids)
                if streaming:
                    m["stream_groups"] = run_ids
                if h0 and h1:
                    m["gc_delta_ms"] = h1["gc_ms"] - h0["gc_ms"]
                    if h0.get("jit_ms", -1) >= 0:
                        m["jit_delta_ms"] = h1["jit_ms"] - h0["jit_ms"]
                    m["heap_mb"] = h1["heap_mb"]
                    m["code_cache_mb"] = h1["code_cache_mb"]
                    m["code_cache_max_mb"] = h1["code_cache_max_mb"]
                # self-classification (judge r08 #7): every block names
                # its entry and says what its run/cpu shape means, so a
                # reader never mis-applies the contention rule to a
                # streaming entry's trigger waits or an Arrow kernel's
                # worker waits
                m["host_load"] = _host_load(hp0, hp1)
                m["entry"] = name
                m["classification"] = _classify_attempt(name, m)
                attempt_metrics.append(m)
            scale[name] = {"warm_sec": min(runs),
                           "cache_cleared_first_sec": runs[0],
                           "rows": n, "runs": runs,
                           "attempt_metrics": attempt_metrics}
            print(f"# scale {name}: warm {min(runs):.3f}s rows={n} "
                  f"runs={runs} metrics={json.dumps(attempt_metrics)}",
                  flush=True)

    # Everything from here on runs in subprocess JVMs; stop this one so
    # they measure a quiet machine, not a core-for-core race against a
    # 100 GiB idle parent. stretch_on is THE gate for the stretch block
    # below — one boolean so the stop decision can never desynchronize
    # from whether stretch subprocesses actually run.
    stretch_on = (os.environ.get("SPARK_GRAFT_BENCH_STRETCH", "1") != "0"
                  and os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1") != "0")
    if (cold_proc and scale) or stretch_on:
        spark.stop()
    if cold_proc:
        for name in scale:
            cp = _cold_proc_run(name, sf_dir)
            if cp is not None:
                scale[name]["cold_proc_sec"] = cp
            print(f"# scale {name}: cold_proc="
                  f"{scale[name].get('cold_proc_sec')}", flush=True)

    # stretch entries (judge r06 #5): 10M-row decades — dd_minhash_10m
    # (banded-LSH, expected rows exactly the 1M planted duplicates) and
    # v_sparse_10m (the SPARSE_INVERTED_INDEX tier: ~160M postings built,
    # bucket-written, probed nq=4 → exactly 40 rows), each executed ONCE
    # in a fresh subprocess JVM (true process-cold, zero JIT state, no
    # shared heap with this driver). Detail artifact only; headline
    # total untouched. Disable with SPARK_GRAFT_BENCH_STRETCH=0.
    stretch: dict = {}
    if stretch_on:
        stretch_names = ["dd_minhash_10m", "v_sparse_10m",
                         "v_ivf_persisted_10m", "dd_ngram_10m"]
        if os.environ.get("SPARK_GRAFT_BENCH_STRETCH_100M") == "1":
            # third decades (judge r09 task 5 / r10 task 5) — one-shot
            # committed evidence, ~15-25 min fresh-JVM each, off
            # per-round
            stretch_names.append("dd_minhash_100m")
            stretch_names.append("v_sparse_100m")
            stretch_names.append("dd_ngram_100m")
        for name in stretch_names:
            is_100m = name.endswith("_100m")
            shortfall = _stretch_disk_shortfall(name)
            if shortfall is not None:
                stretch[name] = {"skipped": shortfall}
                print(f"# stretch {name}: SKIPPED — {shortfall}",
                      flush=True)
                continue
            # the 100M decade needs the box's real heap: the per-round
            # 16g default OOM'd it (measured r10); the 10M entries keep
            # the default so their decade numbers stay comparable
            env_100m = ({"SPARK_GRAFT_DRIVER_MEM": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM_100M", "80g")} if is_100m
                else None)
            if name == "dd_ngram_100m":
                # the decade only fits this box's scratch disk under
                # zstd shuffle compression (measured r11: ~60 GB peak
                # vs ~74+ GB under lz4 — SCALING_MODEL.json). The
                # minhash/sparse decades keep the default codec so
                # their recorded numbers stay comparable. Any
                # user-supplied EXTRA_CONF is APPENDED after the codec
                # (confs apply in order, later wins) so user confs
                # survive and an explicit user codec still overrides
                # (ADVICE r11: the old assignment silently dropped them).
                prev = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
                zstd = "spark.io.compression.codec=zstd"
                env_100m["SPARK_GRAFT_EXTRA_CONF"] = (
                    f"{zstd};{prev}" if prev else zstd)
            cp = _cold_proc_run(name, sf_dir, want_rows=True,
                                timeout_sec=(3600 if is_100m else 900),
                                extra_env=env_100m)
            if cp is not None:
                stretch[name] = {"cold_proc_sec": cp[0], "rows": cp[1],
                                 "host_load": cp[2]}
                print(f"# stretch {name}: {cp[0]:.3f}s cold-process "
                      f"rows={cp[1]} host={json.dumps(cp[2])}", flush=True)
            else:
                print(f"# stretch {name}: subprocess failed/timeout",
                      flush=True)


    total = round(sum(timings.values()), 3)

    # verbose evidence → earlier stdout line + durable side file; the
    # driver's tail capture only needs to survive long enough to keep the
    # compact final line intact.
    detail: dict = {"kind": "bench_detail", "sf": sf, "total_sec": total,
                    "host_load_headline": head_host, "plan": plans,
                    "stages": stages}
    if latency:
        detail["latency"] = latency
    if memo_rebuilds:
        detail["memo_rebuilds"] = memo_rebuilds
        detail["qps"] = {name: round(1.0 / max(s["avg"], 1e-9), 2)
                        for name, s in latency.items()}
    if scale:
        detail["scale"] = scale
    if stretch:
        detail["stretch"] = stretch
    if concurrency:
        detail["concurrency"] = concurrency
    if sustained:
        detail["sustained"] = sustained
    if sustained_pooled:
        detail["sustained_pooled"] = sustained_pooled
    if sustained_mixed:
        detail["sustained_mixed"] = sustained_mixed
    if sustained600:
        detail["sustained_600s"] = sustained600
    _write_detail(detail)

    final = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **suite,
    }
    if sustained:
        # one scalar in the driver-captured line; the full latency set
        # lives in the detail artifact
        final["sustained_qps"] = sustained["qps"]
    if sustained_pooled:
        final["sustained_pooled_qps"] = sustained_pooled["qps"]
    _emit_final(final)


if __name__ == "__main__":
    main()
