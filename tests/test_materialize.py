"""Unit tests for the shared materialization helpers (materialize.py) and
the streaming event-time normalizer (streaming/_time.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel


def test_shared_persist_registers_once(spark):
    from vectordb_testbricks_spark.materialize import shared_persist
    df = spark.range(10).select((F.col("id") * 3).alias("x"))
    p1 = shared_persist(df)
    assert p1.storageLevel != StorageLevel.NONE
    # a fresh DataFrame over the identical plan reuses the cache entry
    # instead of re-registering (no "already cached" churn)
    df2 = spark.range(10).select((F.col("id") * 3).alias("x"))
    p2 = shared_persist(df2)
    assert p2.storageLevel != StorageLevel.NONE
    assert p2.count() == 10
    p1.unpersist()


def test_barrier_if_large_gates_on_row_hint(spark):
    """VERDICT r10 #4: the eager count barrier is a SCALE tool — when the
    operator input (``source``) estimates below BARRIER_MIN_ROWS rows it
    must degrade to a plain persist (registered, NOT built: no count
    job); at/above it — or with no estimate — it must leave the cache
    fully BUILT. A Range carries an exact rowCount, so the sources are
    sized without running anything."""
    from vectordb_testbricks_spark.materialize import (
        BARRIER_MIN_ROWS, barrier_if_large)

    def built_caches():
        sc = spark.sparkContext._jsc.sc()
        return sum(1 for r in sc.getRDDStorageInfo()
                   if r.numCachedPartitions() > 0)

    base = built_caches()
    small = barrier_if_large(
        spark.range(7).select((F.col("id") * 2).alias("x")), spark.range(7))
    assert small.storageLevel != StorageLevel.NONE
    assert built_caches() == base          # no eager build below threshold

    big = barrier_if_large(
        spark.range(9).select((F.col("id") * 5).alias("y")),
        spark.range(BARRIER_MIN_ROWS))
    assert big.storageLevel != StorageLevel.NONE
    assert built_caches() == base + 1      # built eagerly at the threshold

    nohint = barrier_if_large(
        spark.range(3).select((F.col("id") + 9).alias("z")), _Unsized())
    assert built_caches() == base + 2      # no estimate -> conservative barrier
    for df in (small, big, nohint):
        df.unpersist()


class _Unsized:
    """A relation whose stats probe raises."""
    _jdf = None


def test_estimated_rows_fixture_scan_is_small(tables):
    from vectordb_testbricks_spark.materialize import (
        BARRIER_MIN_ROWS, estimated_rows)
    docs = tables["documents"].df
    rows = estimated_rows(docs)
    # a parquet scan carries no rowCount: the estimate is bytes / row
    # width, within a small factor of the real count
    assert rows is not None and rows < BARRIER_MIN_ROWS
    assert docs.count() / 4 <= rows <= docs.count() * 4


def test_estimated_rows_scale_generator_is_large(spark):
    """The 1M-doc scale corpus estimates at or above the regime line from
    its plan alone (nothing executes: no job is submitted)."""
    import __spark_entry__ as E
    from vectordb_testbricks_spark.materialize import (
        BARRIER_MIN_ROWS, estimated_rows)
    tracker = spark.sparkContext.statusTracker()
    jobs = len(tracker.getJobIdsForGroup(None))
    docs = E._gen_docs_arrow(spark, 1_000_000, 900_000)
    assert estimated_rows(docs) >= BARRIER_MIN_ROWS
    assert len(tracker.getJobIdsForGroup(None)) == jobs


def test_estimated_rows_materialized_cache_is_exact(spark):
    from vectordb_testbricks_spark.materialize import estimated_rows
    df = spark.range(0, 1234, 1, 2).select((F.col("id") % 7).alias("k"))
    cached = df.filter(F.col("k") > 2).cache()
    try:
        n = cached.count()
        # a fresh DataFrame over the cached plan reads the built cache's
        # exact row count (the handle probed before the build would keep
        # its pre-build estimate)
        again = df.filter(F.col("k") > 2)
        assert estimated_rows(again) == n
        # a projection keeps the rows: read through it to the cache's count
        assert estimated_rows(again.select((F.col("k") + 1).alias("j"))) == n
    finally:
        cached.unpersist()


def test_estimated_rows_is_none_when_probe_raises():
    from vectordb_testbricks_spark.materialize import (
        estimated_rows, is_large)
    assert estimated_rows(_Unsized()) is None
    assert is_large(_Unsized())


def test_parallelize_small_widens_narrow_input(spark):
    """r13: the width is DERIVED FROM the plan's estimated size (guide
    §2.2/§2.5 — fewer, larger tasks for tiny inputs), clamped to
    [WIDEN_MIN_TASKS, defaultParallelism]. A 100-row range lands at the
    floor; a ≥ cap×32KB estimate still widens to every core."""
    from vectordb_testbricks_spark.materialize import (
        WIDEN_MIN_TASKS, WIDEN_TARGET_BYTES_PER_TASK, parallelize_small)
    narrow = spark.range(0, 100, 1, numPartitions=1)
    wide = parallelize_small(narrow)
    assert wide.rdd.getNumPartitions() == WIDEN_MIN_TASKS
    assert wide.count() == 100
    cap = spark.sparkContext.defaultParallelism
    # 8 bytes/row for a range: enough rows to exceed cap × target bytes
    rows = (cap * WIDEN_TARGET_BYTES_PER_TASK) // 8 + 1
    big = spark.range(0, rows, 1, numPartitions=1)
    assert parallelize_small(big).rdd.getNumPartitions() == cap


def test_parallelize_small_is_noop_at_scale_width(spark):
    from vectordb_testbricks_spark.materialize import parallelize_small
    target = spark.sparkContext.defaultParallelism
    already = spark.range(0, 100, 1, numPartitions=target + 4)
    out = parallelize_small(already)
    # no repartition injected: partitioning (and the plan) untouched
    assert out.rdd.getNumPartitions() == target + 4
    assert "Repartition" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_parallelize_small_ignores_wide_looking_identifiers(spark):
    """The node probe is anchored to plan-tree node positions: a narrow
    scan whose COLUMN names contain wide-node words (JoinDate, SortKey,
    WindowStart) must still be widened — the old substring match silently
    skipped these."""
    from vectordb_testbricks_spark.materialize import parallelize_small
    narrow = spark.range(0, 50, 1, numPartitions=1).select(
        F.col("id").alias("JoinDate"), (F.col("id") * 2).alias("SortKey"),
        (F.col("id") + 1).alias("WindowStart"))
    assert "JoinDate" in narrow._jdf.queryExecution().optimizedPlan().toString()
    wide = parallelize_small(narrow)
    # widened (beyond the 1-partition input); exact width is size-derived
    assert wide.rdd.getNumPartitions() > 1


def test_parallelize_small_skips_shuffled_plans(spark):
    """A plan containing a real shuffle node (Aggregate / Join) is returned
    untouched — its width is already governed by shuffle.partitions and
    probing .rdd would execute AQE stages."""
    from vectordb_testbricks_spark.materialize import parallelize_small
    agg = spark.range(0, 50, 1, numPartitions=1).groupBy(
        (F.col("id") % 5).alias("k")).count()
    assert parallelize_small(agg) is agg
    joined = spark.range(10).join(spark.range(5), "id")
    assert parallelize_small(joined) is joined


def test_ensure_event_time_ltz_casts_only_ntz(spark):
    from vectordb_testbricks_spark.streaming._time import ensure_event_time_ltz
    ntz = spark.createDataFrame(
        [("2024-01-01 10:00:00",)], "raw string").select(
        F.col("raw").cast(T.TimestampNTZType()).alias("ts"))
    assert isinstance(ntz.schema["ts"].dataType, T.TimestampNTZType)
    fixed = ensure_event_time_ltz(ntz, "ts")
    assert isinstance(fixed.schema["ts"].dataType, T.TimestampType)
    # UTC session: the wall-clock value is preserved exactly
    assert str(fixed.first()["ts"]) == "2024-01-01 10:00:00"

    ltz = spark.createDataFrame([("2024-01-01 10:00:00",)], "raw string") \
        .select(F.to_timestamp("raw").alias("ts"))
    # already-LTZ input passes through as the same object (plan untouched)
    assert ensure_event_time_ltz(ltz, "ts") is ltz


@pytest.mark.stream
@pytest.mark.slow
def test_ntz_source_is_watermarkable_end_to_end(spark, tmp_path):
    """The round-3 failure mode: a parquet source whose event time infers as
    TIMESTAMP_NTZ must stream through a watermarked aggregation."""
    from vectordb_testbricks_spark.streaming.events import windowed_counts
    src = str(tmp_path / "ntz_src")
    # three single-row files in time order: with maxFilesPerTrigger=1 each
    # becomes its own micro-batch, so the watermark advances across batches
    # and append mode can emit the closed first window before termination
    for i, (eid, raw) in enumerate([(1, "2024-01-01 10:05:00"),
                                    (2, "2024-01-01 13:00:00"),
                                    (3, "2024-01-01 16:00:00")]):
        spark.createDataFrame(
            [(eid, "a", raw, 1.0)],
            "event_id long, event_type string, raw string, value double") \
            .select("event_id", "event_type",
                    F.col("raw").cast(T.TimestampNTZType()).alias("ts"),
                    "value").coalesce(1) \
            .write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    assert isinstance(schema["ts"].dataType, T.TimestampNTZType)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = windowed_counts(stream, "1 hour", watermark="1 minute")
    q = (agg.writeStream.format("memory").queryName("ntz_wm_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    # append mode emits watermark-closed windows; the stream ran without
    # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — that is the regression guard
    assert spark.table("ntz_wm_out").count() >= 1


def test_session_caches_evict_dead_app_entries(spark):
    """ADVICE r12: session-memo entries (keyed by applicationId) must not
    accumulate across stopped SparkContexts — on an applicationId change
    session_memo drops the previous application's entries for every
    slot kind, entry-, catalog- and dedup-style alike (last-app-wins),
    while live-app entries stay."""
    from vectordb_testbricks_spark import session

    slots = [("bm25_tables", "/x", None), ("ivf", "/x"),
             ("table", "/x/documents.parquet"),
             ("posting", 1234, 0.7, 50, "arrow")]
    # simulate a stale previous application holding one entry per kind
    with session._LOCK:
        session._APP[0] = "app-dead"
        for slot in slots:
            session._TABLE[("app-dead", slot)] = "stale"
    live = ("bm25_tables", "/keep", None)
    assert session.session_memo(spark, live, lambda: "live") == "live"
    assert not [k for k in session._TABLE if k[0] == "app-dead"]
    # live entries stay: a second lookup is a hit, not a rebuild
    assert session.session_memo(spark, live, lambda: "rebuilt") == "live"
    for slot in slots:
        assert session.session_memo(spark, slot, lambda: "fresh") == "fresh"
    session.forget(lambda slot, v: slot == live or slot in slots)
    assert not [k for k in session._TABLE if k[1] == live or k[1] in slots]


def test_widen_width_degenerate_stats(spark):
    """A join over a relation without size statistics (a parallelized
    list defaults to Long.MaxValue) estimates sizeInBytes at or above
    Long.MaxValue: the width still lands in [WIDEN_MIN_TASKS, target]
    and nothing raises."""
    from vectordb_testbricks_spark.materialize import (
        WIDEN_MIN_TASKS, _widen_width)
    unsized = spark.createDataFrame([(i,) for i in range(10)], "k long")
    joined = unsized.join(spark.range(100).withColumnRenamed("id", "k"),
                          "k")
    size = int(joined._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    assert size >= 2 ** 63 - 1
    target = WIDEN_MIN_TASKS + 4
    for df in (joined, unsized):
        assert WIDEN_MIN_TASKS <= _widen_width(df, target) <= target
