"""Brute-force vector search operators (SURVEY.md §2.4: V1, V2, V5, V6, V12).

Reference semantics (search_permanently.py:137-188, workload.py:221-247):
``search(collection, data=[qvec]*nq, anns_field, metric, limit=topk, filter,
output_fields, group_by_field)`` → per-query ranked hit list (id, distance).

Spark plan shape of a batch (nq≥2):
    queries (tiny, broadcast) ⨯ base  →  score expression (codegen)
      →  WindowGroupLimit Partial      (map-side top-k per query, pre-shuffle)
      →  Exchange on query_id          (≤ nq × k × num_partitions rows)
      →  WindowGroupLimit Final + rank

The two-phase top-k is the 100-TB design point: a naive window over
``partitionBy(query_id)`` would shuffle the *entire* scored table into nq
partitions. Catalyst's InferWindowGroupLimit rewrite (Spark 3.5+) turns
the declarative ``row_number() <= k`` filter into exactly the two-phase
plan: a *Partial* group-limit prunes each map partition to k rows per
query before the exchange, so the shuffle carries at most
nq × k × num_partitions rows. (An earlier hand-rolled
spark_partition_id() local window bought the same pruning at the cost of
an extra full hash shuffle + sort — measured 2× slower at the reference's
top_k=15000 operating point; plan guards now pin the native rewrite
instead.)

Plan shape of one query (a one-row local query side, the reference's
ad-hoc serving request):
    base  →  score expression against the query vector as a literal
      →  TakeOrderedAndProject(k)      (per-partition top-k, merged in one
                                        task, emitted in rank order)
      →  rank = position in that one partition

There is nothing to broadcast and no query_id to shuffle by: the query
row is read on the driver without a job, and a warm request on a cached
collection runs one Spark job (the batch shape runs three).

Exact brute-force is the *declared* semantics (the correctness oracle);
the IVF index in ``ann_index.py`` is the opt-in approximate physical path,
mirroring the reference's index/params split (workload.py:140-152).

Ties broken by id ascending in every ranking — keeps Spark and the DuckDB
oracle deterministic on equal scores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectordb_testbricks_spark.exprlang import compile_expr
from vectordb_testbricks_spark.functions.vector import (
    score_expr, sparse_dot_map, to_double_array)
from vectordb_testbricks_spark.session import session_memo


def local_relation(spark, rows: list[tuple],
                   schema: T.StructType | str) -> DataFrame:
    """Driver-literal rows as a ``LocalRelation`` (plans as
    ``LocalTableScan``), the shape of every query side built here.

    ``spark.createDataFrame(list)`` parallelizes the list into an RDD
    (``Scan ExistingRDD``), and broadcasting it runs a job over every
    default partition. Handing Spark an Arrow table instead keeps the rows
    on the driver (up to ``spark.sql.execution.arrow.localRelationThreshold``,
    48 MB by default; larger tables are parallelized). The values cross as
    Arrow buffers, so doubles arrive bit-exact (``-0.0``, NaN, extreme
    magnitudes) with no literal parsing. A batch's columns stay relation
    attributes, so its top-k windows keep query_id as their partition
    spec; a one-row relation is read back on the driver, still without a
    job, and scored as a literal (see :func:`knn_search`)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def queries_df(spark, vectors: list[list[float]]) -> DataFrame:
    """Build the (query_id, qvec) side from literal query vectors, as a
    driver-local relation (:func:`local_relation`). One vector makes the
    one-query side that :func:`knn_search` scores as a literal with a
    take-ordered top-k; two or more make a batch, broadcast and ranked
    per query."""
    return local_relation(
        spark,
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        T.StructType([
            T.StructField("query_id", T.IntegerType(), False),
            T.StructField("qvec", T.ArrayType(T.DoubleType(), False), False),
        ]),
    )


def prepare_search_pool(base: DataFrame, query_sides: list[DataFrame],
                        vec_col: str, id_col: str, **knn_kwargs
                        ) -> list[DataFrame]:
    """Prepared-statement pool for closed-loop serving: one analyzed
    ``knn_search`` DataFrame per query side, built ONCE and re-executed
    per request. A DataFrame caches its analyzed/optimized plan across
    actions, so re-collecting a pooled plan skips Catalyst entirely
    while execution (jobs, scoring, the two-phase top-k, result
    collection) stays per-request.

    Why this exists (measured, r10, concurrency 10 at the reference's
    top_k=15000 operating point, go_bench/config.yaml:19-26): building
    a fresh DataFrame per request spends ~2.7× the serving cost in
    per-request Catalyst re-analysis of an identical plan — 5.7 QPS
    ad-hoc vs 15.3 QPS pooled on the same corpus and queries. The
    reference's Go driver similarly loads a fixed query-vector set once
    and reuses it for the whole run (config.yaml:24).

    Callers typically pass ``queries_df(spark, [v])`` per vector (or
    any (query_id, qvec) relation) and persist ``base`` when it is
    recomputed per scan. For ad-hoc queries whose vectors are unknown
    up front, batching into one nq=B ``knn_search`` plan remains the
    throughput path; this pool is for the fixed-query-set closed-loop
    shape."""
    return [knn_search(base, q, vec_col, id_col, **knn_kwargs)
            for q in query_sides]


def _ranked(scored: DataFrame, id_col: str, asc: bool, k: int,
            single: bool = False) -> DataFrame:
    """Per-query top-k of ``scored`` (query_id, id, ..., score), numbered
    1..k in a ``rank`` column, ties broken by id ascending.

    A batch (nq≥2) ranks through a window partitioned by query_id.
    Catalyst's WindowGroupLimit rewrite (Spark 3.5+, InferWindowGroupLimit)
    plans its ``row_number() <= k`` filter as a *Partial* group-limit on
    the map side — each input partition forwards at most k rows per query
    into the exchange — and a Final group-limit after it: the two-phase
    top-k, guarded by tests/test_plans.py (partial group-limit below the
    exchange).

    ``single`` (the caller's query side holds exactly one query, so
    query_id is one literal) takes the top k through Catalyst's
    take-ordered limit instead: ``orderBy(score, id).limit(k)`` plans as
    ``TakeOrderedAndProject``, a per-partition top-k merged in one task,
    with no exchange keyed by query_id. That operator emits its k rows as
    one partition in sort order (its declared output ordering), so a
    row's position there is its rank: ``monotonically_increasing_id()``
    of partition 0 counts 0..k-1. No window numbers them — an
    unpartitioned window logs "No Partition Defined" on every execution.
    A take-ordered limit cannot rank per query, so a batch never takes
    this path."""
    # NULL scores never rank: order NULLS LAST in BOTH directions (a bare
    # .asc() is NULLS FIRST — a corrupt row would rank #1 under L2), and
    # drop them ABOVE the ranking, where the predicate references the
    # projected attribute and cannot be pushed back into the join to
    # re-evaluate the metric expression (the r07 2× regression; filters
    # on non-partition columns do not push through a Window or a Limit).
    score = F.col("score")
    order = [score.asc_nulls_last() if asc else score.desc_nulls_last(),
             F.col(id_col).asc()]
    if single:
        return (scored.orderBy(*order).limit(k).filter(score.isNotNull())
                .withColumn("rank", (F.monotonically_increasing_id() + 1)
                            .cast("int")))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") <= k) & score.isNotNull()))


def _single_query(queries: DataFrame) -> Column | None:
    """The query side's only row as one struct literal, when ``queries``
    is a one-row driver-local relation — the ``LocalRelation`` that
    :func:`local_relation` and :func:`queries_df` build — else None.

    The row is read from the analyzed plan on the driver, so no Spark job
    runs. The literal holds the relation's own internal row, so every
    double stays bit-exact (``-0.0``, NaN, ±Infinity, subnormals) with
    no SQL text to parse and a fixed handful of py4j calls per request,
    not one per element. Catalyst folds the literal's fields into the
    scoring expression."""
    plan = queries._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LocalRelation":
        return None
    rows = plan.data()
    if rows.size() != 1:
        return None
    spark = queries.sparkSession
    literal, column = session_memo(spark, ("literal_column",), lambda: (
        spark._jvm.org.apache.spark.sql.catalyst.expressions.Literal,
        spark._jvm.org.apache.spark.sql.classic.ExpressionUtils.column))
    return Column(column(literal(rows.apply(0).copy(), plan.schema())))


def knn_score(spark, metric: str, vec_col: str) -> tuple[Column, bool]:
    """``score_expr(metric, vec_col, "qvec")``, built once per session: a
    COSINE score is a few hundred py4j calls to build, which a request
    would otherwise pay every time."""
    return session_memo(
        spark, ("knn_score", metric.upper(), vec_col),
        lambda: score_expr(metric, F.col(vec_col), F.col("qvec")))


def knn_search(base: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
               metric: str = "L2", k: int = 10,
               flt: str | Column | None = None,
               output_fields: list[str] | None = None,
               group_by: str | list[str] | None = None,
               group_size: int = 1) -> DataFrame:
    """V1/V2/V5: ANN top-k per query vector, optional pre-filter + grouping.

    ``queries`` must have (query_id, qvec). Returns
    (query_id, <id_col>, [output_fields...], score, rank) with rank 1..k.

    A one-row driver-local ``queries`` (:func:`queries_df` of one vector)
    is one query: its row is read on the driver, the vector is scored as a
    literal and the top k is a take-ordered limit (:func:`_ranked`).
    Any other query side — a batch, or one derived from a table, as in
    :func:`search_by_pk` — is broadcast and ranked per query. Grouping
    always takes the broadcast shape, since it ranks through windows.

    Grouping search (group_by != None): top ``group_size`` hits per
    (query, group), then the best-``k`` *groups* per query, matching Milvus
    ``group_by_field`` (issues.py:79-88). A LIST of field names groups by
    the multi-field combination — the 3.0-roadmap "multi-field group_by"
    (feature-inventory doc §2); the plan shape is identical, the window
    partition key just widens.

    Scoring is the Column HOF expression path: search_mix, the manager
    and the fixture entries serve through it. Its Arrow-kernel twin,
    arrow_kernels.knn_search_arrow (bit-identical rows, scores and ranks,
    no grouping), is called directly by the 1M kNN scale entry and
    v_knn_metrics' oracled ``A_<metric>`` branches. There is no size
    gate: the crossover depends on nq, k and corpus size together
    (BASELINE.md "Dense kNN Arrow kernel").
    """
    gb = ([group_by] if isinstance(group_by, str)
          else list(group_by) if group_by else [])
    if flt is not None:
        pred = flt if isinstance(flt, Column) else compile_expr(flt, base)
        base = base.filter(pred)  # pre-filter before ranking (V2)
    score, asc = knn_score(base.sparkSession, metric, vec_col)
    keep = list(dict.fromkeys([id_col, *(output_fields or []), *gb]))
    # grouping ranks through windows partitioned by query_id, which a
    # literal query_id would fold away
    q = None if gb else _single_query(queries)
    if q is None:
        # nullable vectors (3.0 roadmap §4) never rank. Both relation-side
        # null checks are cheap per-row predicates evaluated BEFORE the
        # join: the base side drops stored-NULL vectors, the (tiny)
        # queries side drops NULL query vectors — e.g. search_by_pk on a
        # PK whose stored vector is NULL. r07 filtered score.isNotNull()
        # AFTER scoring instead; predicate pushdown folded that into the
        # join condition, and higher-order scores are never CSE'd, so the
        # whole cosine aggregate evaluated TWICE per (row × query) — the
        # measured 0.87s → 1.7s batched-nq16 regression (plan-guarded
        # now). Residual NULL-score sources the side filters can't see
        # (NULL vector *elements*, 0/0 under COSINE) are excluded above
        # the window in _ranked, where the predicate references the
        # projected attribute and cannot push back through the Window.
        scored = (base.filter(F.col(vec_col).isNotNull())
                  .crossJoin(F.broadcast(
                      queries.filter(F.col("qvec").isNotNull())))
                  .select("query_id", *keep, score.alias("score")))
    else:
        # one query needs no side filters: a NULL stored or query vector
        # scores NULL, and _ranked drops NULL scores above the limit
        scored = (base.withColumns({"query_id": q["query_id"],
                                    "qvec": q["qvec"]})
                  .select("query_id", *keep, score.alias("score")))
    if gb:
        # best `group_size` hits per (query, group) — the group key spreads
        # the window shuffle evenly, no skew concentration. NULLS LAST +
        # post-window isNotNull mirror _ranked (see its comment).
        per_group = Window.partitionBy("query_id", *gb).orderBy(
            F.col("score").asc_nulls_last() if asc
            else F.col("score").desc_nulls_last(),
            F.col(id_col).asc())
        best = (scored.withColumn("rank", F.row_number().over(per_group))
                .filter((F.col("rank") <= group_size)
                        & F.col("score").isNotNull()))
        # rank *groups* by their best hit, keep top-k groups (Milvus
        # group_by_field returns `limit` groups × group_size hits)
        gs = F.min("score") if asc else F.max("score")
        best = best.withColumn(
            "_gs", gs.over(Window.partitionBy("query_id", *gb)))
        rw = Window.partitionBy("query_id").orderBy(
            F.col("_gs").asc() if asc else F.col("_gs").desc(),
            *[F.col(g).asc() for g in gb])
        return (best.withColumn("group_rank", F.dense_rank().over(rw))
                .filter(F.col("group_rank") <= k).drop("_gs"))
    return _ranked(scored, id_col, asc, k, single=q is not None)


def search_by_pk(base: DataFrame, pks: list, vec_col: str, id_col: str,
                 metric: str = "COSINE", k: int = 10,
                 flt: str | Column | None = None, **kw) -> DataFrame:
    """3.0-roadmap ``search_mode=pk`` ('Search by primary key',
    feature-inventory doc §2): the request carries no query vector — the
    engine looks it up from the stored row by PK and serves the standard
    top-k. ``query_id`` is the PK itself.

    The lookup is a pruned point read (the ``isin`` literal reaches the
    parquet scan exactly like a Q4 PK-IN query) and the query relation
    stays a broadcast — nq = len(pks), small by contract. The queried
    row itself ranks at self-similarity (top-1 for COSINE/IP), identical
    to a brute-force search given its own vector; the engine leaves the
    entity in the result set."""
    q = (base.filter(F.col(id_col).isin(list(pks)))
         .select(F.col(id_col).alias("query_id"),
                 to_double_array(F.col(vec_col)).alias("qvec")))
    return knn_search(base, q, vec_col, id_col, metric=metric, k=k,
                      flt=flt, **kw)


def drop_query_terms(query_map: dict, drop_ratio_search: float) -> dict:
    """SPARSE_INVERTED_INDEX ``drop_ratio_search`` (reference search params,
    workload.py:140-152): drop the lowest-|weight| fraction of *query*
    dimensions before scoring — fewer postings traversed, negligible score
    loss. Deterministic tie-break by key."""
    if drop_ratio_search <= 0 or not query_map:
        return query_map
    items = sorted(query_map.items(), key=lambda kv: (abs(kv[1]), str(kv[0])))
    return dict(items[int(len(items) * drop_ratio_search):])


def sparse_search(base: DataFrame, query_map: dict, map_col: str, id_col: str,
                  k: int = 10, flt: str | Column | None = None,
                  drop_ratio_search: float = 0.0) -> DataFrame:
    """V6: inner-product search over SPARSE_FLOAT_VECTOR (MapType) columns.

    The query is a {index: weight} dict (reference DOK form, data.py:57-59).
    Compiled as a literal map → map_zip_with dot product, no shuffle at all
    until the top-k reduction. ``drop_ratio_search`` prunes low-weight query
    dims first (see drop_query_terms).
    """
    return sparse_search_many(base, [query_map], map_col, id_col, k=k,
                              flt=flt, drop_ratio_search=drop_ratio_search)


def sparse_search_many(base: DataFrame, query_maps: list[dict], map_col: str,
                       id_col: str, k: int = 10,
                       flt: str | Column | None = None,
                       drop_ratio_search: float = 0.0) -> DataFrame:
    """V6 at nq>1: one {index: weight} dict per query, ``query_id`` =
    position in ``query_maps``.

    The query side is a tiny broadcast local relation, not a literal map: a
    foldable query_id would constant-fold the top-k window's partition spec
    away (WindowExec "No Partition Defined"); as an attribute the per-query
    ranking stays partitioned at any nq.
    """
    query_maps = [drop_query_terms(m, drop_ratio_search) for m in query_maps]
    if flt is not None:
        pred = flt if isinstance(flt, Column) else compile_expr(flt, base)
        base = base.filter(pred)
    key_sql = _sparse_key_sql(query_maps)
    qdf = local_relation(
        base.sparkSession,
        [(i, {k_: float(v) for k_, v in m.items()})
         for i, m in enumerate(query_maps)],
        f"query_id int, qmap map<{key_sql},double>")
    scored = (base.crossJoin(F.broadcast(qdf))
              .select("query_id", id_col,
                      sparse_dot_map(F.col(map_col), F.col("qmap"))
                      .alias("score"))
              .filter(F.col("score") > 0))
    return _ranked(scored, id_col, asc=False, k=k)


def _sparse_key_sql(query_maps: list[dict]) -> str:
    """Spark SQL key type for a batch of sparse query maps: ``string``
    when any map's first key is a str, else ``bigint`` — the two key
    domains the schema registry declares for SPARSE_FLOAT_VECTOR. Shared
    by the brute-force and postings paths so their query relations can
    never desynchronize (their exact identity is oracle-asserted)."""
    return ("string" if any(isinstance(next(iter(m), None), str)
                            for m in query_maps) else "bigint")


def sparse_postings(base: DataFrame, map_col: str, id_col: str,
                    key_col: str = "key",
                    weight_col: str = "weight") -> DataFrame:
    """Explode a SPARSE_FLOAT_VECTOR (MapType) column into its inverted
    postings form ``(id, key, weight)`` — one row per stored dimension.
    This is the SPARSE_INVERTED_INDEX physical layout (reference index
    vocabulary, schema_matrix_2_6.yaml:63,80): the same shape as the BM25
    tf sidecar, so a function-field corpus can serve sparse IP straight
    from the sidecar with zero extra materialization."""
    return base.select(
        id_col,
        F.explode(map_col).alias(key_col, weight_col))


def sparse_bucket_expr(key_col: str, n_buckets: int) -> Column:
    """Deterministic key → bucket expression for the persisted postings
    layout. crc32-over-utf8 on purpose: zlib.crc32 computes the identical
    value driver-side (:func:`sparse_bucket_py`), so searches prune
    partition directories from literal query keys without a JVM round
    trip. (xxhash64 would be faster but has no stdlib Python twin.)"""
    return F.pmod(F.crc32(F.col(key_col).cast("string").cast("binary")),
                  F.lit(n_buckets)).cast("int")


def sparse_bucket_py(key, n_buckets: int) -> int:
    """Driver-side twin of :func:`sparse_bucket_expr`."""
    import zlib
    return zlib.crc32(str(key).encode("utf-8")) % n_buckets


def sparse_search_postings_many(
        postings: DataFrame, query_maps: list[dict], id_col: str,
        k: int = 10, drop_ratio_search: float = 0.0,
        key_col: str = "key", weight_col: str = "weight",
        bucket_col: str | None = None,
        n_buckets: int | None = None) -> DataFrame:
    """V6 through the SPARSE_INVERTED_INDEX physical path: score sparse IP
    from exploded postings instead of scanning every row's map column.

    Exact identity with :func:`sparse_search_many` (asserted in tests):
    the dot product only ever sums over key intersections, and the
    postings join computes precisely that intersection — restricted,
    crucially, to postings whose key appears in SOME query. The query's
    key set is pushed down as a literal ``isin`` that reaches the parquet
    scan (row-group pruning via key min/max on the sorted persisted
    layout); with ``bucket_col``/``n_buckets`` set (the persisted layout
    of ann_index.write_sparse_inverted) partition directories prune first
    via driver-computed crc32 buckets. At corpus scale each query batch
    reads ~|matching postings| bytes, not O(n_rows · avg_nnz) — the same
    reason BM25 pushes its analyzed terms into the tf sidecar scan.

    The aggregate is a partial-combine groupBy((query_id, id)): map-side
    sums shrink the shuffle to |candidate docs| rows before the exchange.
    """
    query_maps = [drop_query_terms(m, drop_ratio_search) for m in query_maps]
    spark = postings.sparkSession
    key_sql = _sparse_key_sql(query_maps)
    qrows = [(i, k_, float(w)) for i, m in enumerate(query_maps)
             for k_, w in m.items()]
    qdf = local_relation(
        spark, qrows, f"query_id int, _qk {key_sql}, _qw double")
    keys = sorted({r[1] for r in qrows})
    if keys:
        # literal In() — this is the predicate that reaches the scan
        postings = postings.filter(F.col(key_col).isin(keys))
        if bucket_col is not None and n_buckets:
            buckets = sorted({sparse_bucket_py(k_, n_buckets)
                              for k_ in keys})
            postings = postings.filter(F.col(bucket_col).isin(buckets))
    else:                               # every query emptied by drop_ratio
        postings = postings.filter(F.lit(False))
    scored = (postings
              .join(F.broadcast(qdf), postings[key_col] == qdf["_qk"])
              .groupBy("query_id", id_col)
              .agg(F.sum(F.col(weight_col).cast("double")
                         * F.col("_qw")).alias("score"))
              .filter(F.col("score") > 0))
    return _ranked(scored, id_col, asc=False, k=k)


def check_result_shape(hits: DataFrame, nq: int, topk: int,
                       min_ratio: float = 0.0) -> dict:
    """V12: result-shape assertions (workload.py:155-162): exactly nq hit
    lists, each non-empty, warn-level flag when a list is < topk*min_ratio."""
    per_q = (hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n"))
             .collect())
    got_nq = len(per_q)
    min_hits = min((r["n"] for r in per_q), default=0)
    return {
        "nq_ok": got_nq == nq,
        "all_nonempty": got_nq == nq and min_hits > 0,
        "underfilled": [r["query_id"] for r in per_q if r["n"] < topk * min_ratio],
    }
