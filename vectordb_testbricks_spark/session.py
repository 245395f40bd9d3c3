"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we would ship to a multi-executor cluster (AQE on, sane shuffle
parallelism, Arrow enabled for the few pandas interchange points).

Also home of the session memo (:func:`session_memo`): the one table that
holds ingest-time state (loaded-table handles, BM25/IVF/n-gram index
tables, prepared plans, manager warehouses) for the live application.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Callable

from pyspark.sql import SparkSession


def get_spark(app_name: str = "vectordb_testbricks_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # keep InferWindowGroupLimit (map-side top-k prune before the
        # shuffle) active at the reference's top_k=15000 operating point —
        # the rewrite is skipped above this threshold (default 1000) and
        # rank<=k would otherwise shuffle every scored row into nq
        # partitions
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "1000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark captures the Python call site of every Column/DataFrame
        # call for error query contexts. Spark documents the overhead: it
        # adds py4j round trips to every call, a large share of a serving
        # request's Python build, and nothing here reads the query
        # context. Static conf, so it must be set on the builder.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # testdata parquet carries TIMESTAMP(NANOS); read as long, the
        # catalog loader converts back to TimestampType (micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UI off for tests (port + thread overhead ×100s of sessions);
        # SPARK_GRAFT_UI=1 is set by the stage-metric readers — bench.py
        # (every headline entry and scale attempt), tools/
        # measure_scaling.py and perfbench's traced mode — which read
        # their job groups' stages (executor run time, GC, shuffle,
        # spill) from the status REST API
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1"
                else "false")
        # single-JVM local mode on a 128 GiB box: everything (driver,
        # executor threads, cached tables) shares this one heap, and the
        # 1M-row bench entries measured 3-4× GC-debt swings at 8g after a
        # long headline phase — 16g keeps old-gen churn off the timings
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # long sessions compile hundreds of whole-stage-codegen classes;
        # at the JVM's default ~240m reserved code cache the JIT stops
        # compiling once it fills, and later CPU-hot generated loops run
        # interpreted (measured: the minhash signature stage at 1M rows
        # degraded 15s → 47-72s only AFTER ~120 prior query executions).
        # 1g + explicit flushing keeps late plans JIT-compiled.
        # SPARK_GRAFT_EXTRA_JVM_OPTS appends experiment flags (empty by
        # default, so default sessions are byte-identical): used to A/B
        # JIT hypotheses for the sticky ~10× slow mode — r08 measured
        # executorCpuTime itself inflating 10× (not contention: run≈cpu
        # in both modes) in 7 of 10 full-bench JVMs, the signature of
        # hot methods deopt-flagged not-compilable after the varied
        # headline-phase profiles (-XX:PerMethodRecompilationCutoff).
        .config("spark.driver.extraJavaOptions",
                ("-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
                 + os.environ.get("SPARK_GRAFT_EXTRA_JVM_OPTS", "")).strip())
    )
    # SPARK_GRAFT_EXTRA_CONF: semicolon-separated key=value Spark confs
    # appended last (so they win), e.g.
    # "spark.io.compression.codec=zstd;spark.shuffle.spill.compress=true".
    # Empty by default so default sessions stay byte-identical — the same
    # contract as SPARK_GRAFT_EXTRA_JVM_OPTS. Used by the gated 100M
    # stretch decades to trade shuffle CPU for scratch-disk footprint on
    # the single box (zstd ~halves the int-heavy posting shuffle vs the
    # lz4 default — measured r11).
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if kv.strip():
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: (applicationId, slot) -> value for the live application only; see
#: session_memo. Guarded by _LOCK, as are _APP and _STATS.
_TABLE: dict[tuple, object] = {}
_APP: list = [None]
_STATS: dict[str, dict] = {}
_LOCK = threading.Lock()


def session_memo(spark: SparkSession, slot: tuple, build: Callable[[], object]):
    """``build()`` once per (applicationId, ``slot``), then the same value.

    ``slot`` is a hashable tuple whose first element is a tag string
    naming the kind of value, e.g. ``("bm25_tables", sf_dir, analyzer)``.
    When a new applicationId shows up the whole table is dropped
    (last-app-wins): a stopped SparkContext's DataFrame handles and
    broadcasts are never served to, or pinned by, its successor. The key
    is the applicationId, never ``id(spark)``, which CPython reuses after
    garbage collection.
    ``build`` runs outside the lock, so it may itself call session_memo;
    when two threads race on one slot the first stored value wins and
    both return it.

    Immutable-input contract: a memoized value reflects its inputs as they
    were at build time (a DataFrame's captured file listing, a persisted
    intermediate). Callers memoize only over immutable fixtures or fresh
    temp dirs; mutable collections go through the manager's versioned
    storage instead. A caller that invalidates a value (unpersists it)
    must :func:`forget` it."""
    app = spark.sparkContext.applicationId
    key = (app, slot)
    with _LOCK:
        if _APP[0] != app:
            _TABLE.clear()
            _APP[0] = app
        st = _STATS.setdefault(slot[0],
                               {"builds": 0, "hits": 0, "build_s": 0.0})
        if key in _TABLE:
            st["hits"] += 1
            return _TABLE[key]
    t0 = time.perf_counter()
    value = build()
    with _LOCK:
        st["builds"] += 1
        st["build_s"] += time.perf_counter() - t0
        if _APP[0] == app:
            value = _TABLE.setdefault(key, value)
    return value


def forget(match: Callable[[tuple, object], bool]) -> None:
    """Drop the memo entries for which ``match(slot, value)`` holds."""
    with _LOCK:
        for key in [k for k, v in _TABLE.items() if match(k[1], v)]:
            del _TABLE[key]


def memo_stats() -> dict[str, dict]:
    """Process-lifetime ``{tag: {"builds", "hits", "build_s"}}`` counters."""
    with _LOCK:
        return {tag: dict(st) for tag, st in _STATS.items()}
