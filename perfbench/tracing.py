"""Spans, percentiles, process-tree RSS and Spark stage metrics.

Spans sit around the benchmark's own calls into each layer. With tracing
off, ``Tracer.span`` records nothing; the end-to-end metrics are measured
that way. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


# ---------------------------------------------------------------- spans

@dataclass
class Span:
    trace: str
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent) per thread; one trace id
    per request. Disabled tracers hand out no spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        s = Span(trace or (parent.trace if parent else ""), next(self._ids),
                 parent.span_id if parent else None, name,
                 time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self) -> dict[int, float]:
        """span id -> duration minus the part its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return {s.span_id: s.seconds - union_seconds(
                    [(c.start, c.end) for c in children.get(s.span_id, [])])
                for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------- percentiles

def p50(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def p90(values: list[float]) -> float | None:
    """The 90th percentile, only when at least ten samples lie beyond it
    (so at least 100 samples); otherwise None, and it is not reported."""
    if len(values) < 100:
        return None
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def summary(values: list[float], unit: str) -> dict:
    """A timing as median, the p90 when the sample count allows it, and
    the sample count."""
    out = {"unit": unit, "n": len(values), "p50": p50(values)}
    tail = p90(values)
    if tail is not None:
        out["p90"] = tail
    return out


# ------------------------------------------------------------------ RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the driver JVM
    and the Python workers it forks)."""
    kids = _children_map()
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------- environment

def _proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_probe() -> dict:
    """Load average and the cumulative CPU-steal share since boot."""
    cpu = _proc_stat_cpu()
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"loadavg": load, "cpu_jiffies": cpu,
            "steal_jiffies": cpu[7] if len(cpu) > 7 else 0}


def steal_share(start: dict, end: dict) -> float:
    """CPU-steal share of all CPU time between two host probes."""
    total = sum(end["cpu_jiffies"]) - sum(start["cpu_jiffies"])
    steal = end["steal_jiffies"] - start["steal_jiffies"]
    return steal / total if total > 0 else 0.0


# ------------------------------------------------- Spark stage metrics

def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
                             ).replace(tzinfo=timezone.utc).timestamp()


@dataclass
class OpStages:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    span_s: float = 0.0              # union of the stages' [submit, done]
    executor_cpu_ms: float = 0.0
    executor_run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    stage_ids: list[int] = field(default_factory=list)


def spark_stages(sc) -> dict[str, OpStages]:
    """Per job group: jobs, stages, tasks, the union of stage spans and the
    executor CPU / GC / shuffle totals, read from the status REST API of
    the live UI (the session must run with ``SPARK_GRAFT_UI=1``)."""
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    stages = {}
    for st in get("/stages"):
        if st.get("status") in ("COMPLETE", "FAILED"):
            stages[st["stageId"]] = st
    out: dict[str, OpStages] = {}
    for job in get("/jobs"):
        group = job.get("jobGroup")
        if group is None:
            continue
        agg = out.setdefault(group, OpStages())
        agg.jobs += 1
        for sid in job.get("stageIds", []):
            if sid in stages and sid not in agg.stage_ids:
                agg.stage_ids.append(sid)
    for agg in out.values():
        spans = []
        for sid in agg.stage_ids:
            st = stages[sid]
            agg.stages += 1
            agg.tasks += st.get("numTasks", 0)
            agg.executor_cpu_ms += st.get("executorCpuTime", 0) / 1e6
            agg.executor_run_ms += st.get("executorRunTime", 0)
            agg.gc_ms += st.get("jvmGcTime", 0)
            agg.shuffle_write_bytes += st.get("shuffleWriteBytes", 0)
            s, e = _ts(st.get("submissionTime")), _ts(st.get("completionTime"))
            if s is not None and e is not None:
                spans.append((s, e))
        agg.span_s = union_seconds(spans)
    return out
