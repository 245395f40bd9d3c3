"""Shared run machinery: the Spark session, operations, actions, the
warehouse file ledger and the per-layer metrics every workload reports."""

from __future__ import annotations

import os
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

from tracing import OpStages, Tracer, p50, spark_stages, summary


@dataclass
class Op:
    """One client operation: a reader request or a batch stage.
    ``result`` holds what the output checks need."""
    trace: str
    kind: str
    start: float
    end: float = 0.0
    error: str | None = None
    result: object = None
    plan_s: float = 0.0
    exec_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Bench:
    """State of one benchmark process: arguments, session, manager, tracer,
    set-up timings and the ledger of parquet files the manager wrote."""

    def __init__(self, seed: int, seconds: int, traced: bool, work: str,
                 process_start: float):
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.process_start = process_start
        self.tracer = Tracer(traced)
        self.setup: dict[str, list[float]] = {
            "datagen": [], "ingest": [], "load": []}
        self.session_s = 0.0
        self.files: dict[str, int] = {}
        self.user_bytes = 0
        self.spark = None
        self.mgr = None
        self.timeline: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since process start."""
        self.timeline[phase] = time.perf_counter() - self.process_start

    # ------------------------------------------------------- session
    def start(self) -> None:
        from vectordb_testbricks_spark.manager import CollectionManager
        from vectordb_testbricks_spark.session import get_spark
        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - self.process_start
        self.mark("session")
        self.mgr = CollectionManager(self.spark,
                                     os.path.join(self.work, "warehouse"))

    def stop(self) -> None:
        """Stop Spark, end the gateway JVM and wait for every process the
        run started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext
        pids = _descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()      # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
        _wait_gone(pids, timeout=30)

    @contextmanager
    def setup_phase(self, name: str):
        """Time one phase of a set-up repetition into ``self.setup``."""
        t = time.perf_counter()
        with self.tracer.span(f"setup.{name}", trace="setup"):
            yield
        self.setup[name].append(time.perf_counter() - t)

    def setup_s(self) -> float:
        """Session start (from process start) plus the median set-up
        repetition (datagen + ingest + load)."""
        reps = [sum(v[i] for v in self.setup.values() if i < len(v))
                for i in range(len(self.setup["ingest"]))]
        return self.session_s + statistics.median(reps)

    # ---------------------------------------------------- operations
    @contextmanager
    def op(self, ops: list[Op], trace: str, kind: str):
        """Run one operation as a root span. An exception fails the
        operation, is reported on stderr, and the run goes on."""
        o = Op(trace, kind, time.perf_counter())
        grouped = self.tracer.enabled
        if grouped:
            self.spark.sparkContext.setJobGroup(trace, kind)
        try:
            with self.tracer.span(kind, trace=trace):
                yield o
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            first = (str(e).splitlines() or [""])[0]
            o.error = f"{type(e).__name__}: {first[:300]}"
            traceback.print_exc(file=sys.stderr)
        finally:
            o.end = time.perf_counter()
            ops.append(o)
            if grouped:     # the group is per thread and would stick
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)

    def _plan(self, df, o: Op) -> None:
        if self.tracer.enabled:
            t = time.perf_counter()
            with self.tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
            o.plan_s = time.perf_counter() - t

    def collect(self, df, o: Op) -> list:
        """Serving action: the rows in hand."""
        self._plan(df, o)
        t = time.perf_counter()
        with self.tracer.span("exec"):
            rows = df.collect()
        o.exec_s = time.perf_counter() - t
        return rows

    def noop(self, df, o: Op) -> None:
        """Batch action: the full result materialized, nothing kept."""
        self._plan(df, o)
        t = time.perf_counter()
        with self.tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        o.exec_s = time.perf_counter() - t

    # ------------------------------------------------ warehouse ledger
    def track_files(self) -> None:
        """Record every parquet part file now in the warehouse (files
        written by the manager, data and BM25 sidecars alike)."""
        for d, _, names in os.walk(self.mgr.warehouse):
            for n in names:
                if n.startswith("part-"):
                    p = os.path.join(d, n)
                    if p not in self.files:
                        self.files[p] = os.path.getsize(p)

    def cache_stats(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        sc = self.spark.sparkContext._jsc.sc()
        infos = sc.getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return sc.getPersistentRDDs().size(), mb

    # -------------------------------------------------- layer metrics
    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        """The per-layer metrics every workload reports, over the
        foreground operations of the traced window."""
        stages = spark_stages(self.spark.sparkContext)
        done = [o for o in ops if o.error is None]
        per = [stages.get(o.trace, OpStages()) for o in done]
        n = max(len(done), 1)
        build = [o.seconds - o.plan_s - o.exec_s for o in done]
        reads = self.tracer.by_name("manager.read")
        inserts = self.tracer.by_name("manager.insert")
        persisted, storage_mb = self.cache_stats()
        return {
            "setup.session_s": self.session_s,
            "setup.datagen_s": statistics.median(self.setup["datagen"]),
            "setup.ingest_s": statistics.median(self.setup["ingest"]),
            "manager.read_ms": _ms(p50([s.seconds for s in reads])),
            "manager.insert_ms": _ms(p50([s.seconds for s in inserts])),
            "manager.files_written": len(self.files),
            "manager.bytes_written_per_user_byte":
                sum(self.files.values()) / max(self.user_bytes, 1),
            "build.ms": _ms(p50(build)),
            "plan.ms": _ms(p50([o.plan_s for o in done])),
            "exec.ms": _ms(p50([o.exec_s for o in done])),
            "exec.jobs": sum(s.jobs for s in per) / n,
            "exec.stages": sum(s.stages for s in per) / n,
            "exec.tasks": sum(s.tasks for s in per) / n,
            "exec.sched_gap_ms": _ms(p50([
                o.seconds - b - o.plan_s - s.span_s
                for o, b, s in zip(done, build, per)])),
            "exec.executor_cpu_ms": sum(s.executor_cpu_ms for s in per) / n,
            "exec.gc_ms": sum(s.gc_ms for s in per) / n,
            "exec.shuffle_write_bytes":
                sum(s.shuffle_write_bytes for s in per) / n,
            "materialize.persisted_rdds": persisted,
            "materialize.storage_mb": storage_mb,
        }

    def span_table(self) -> dict[str, dict]:
        """Per span name: call count, p50 duration and p50 self time."""
        self_s = self.tracer.self_seconds()
        names: dict[str, list] = {}
        for s in self.tracer.spans:
            names.setdefault(s.name, []).append(s)
        return {name: {"n": len(ss),
                       "p50_ms": _ms(p50([s.seconds for s in ss])),
                       "self_p50_ms": _ms(p50([self_s[s.span_id]
                                               for s in ss]))}
                for name, ss in sorted(names.items())}


def _ms(seconds: float | None) -> float | None:
    return None if seconds is None else seconds * 1000.0


def timings(ops: list[Op], unit_ms: bool = True) -> dict:
    return summary([o.seconds * (1000.0 if unit_ms else 1.0)
                    for o in ops if o.error is None],
                   "ms" if unit_ms else "s")


def _descendants(root: int) -> list[int]:
    from tracing import _children_map
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to end; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_running(p) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
