"""IVF approximate-nearest-neighbor index (SURVEY.md §4: the performance
path mirroring the reference's IVF_FLAT/nprobe vocabulary,
2.6/common.py:882-898, workload.py:140-152).

Design (Spark-first, batch-built like any derived table):
  * train: Lloyd's iterations in numpy over a driver-side *sample* of the
    vectors (the standard IVF recipe — Faiss trains on ~max(10k, 50·nlist)
    samples regardless of corpus size, so the 100-TB build collects the same
    few MB). Deterministic under a fixed seed.
  * assign: every row gets ``centroid_id`` from a vectorized Pandas UDF —
    one Arrow batch × one BLAS matmul per partition chunk; no MLlib/RDD
    round-trips in the hot path.
  * at scale the assigned table is *persisted partitioned by centroid_id*
    (``write_ivf``), so probing prunes file groups instead of filtering rows.
  * probe: score the nq query vectors against the tiny centroid table
    driver-side, pick ``nprobe`` nearest lists per query, then run the exact
    brute-force ranking only on rows whose centroid_id is probed — the same
    two-phase top-k as search.py on a pruned scan.

Brute force remains the declared (oracle-checked) semantics; IVF trades
recall for scan fraction exactly like the reference's nprobe knob.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_testbricks_spark.materialize import shared_persist


@dataclass
class IvfModel:
    assigned: DataFrame          # base columns + centroid_id
    centroids: list[list[float]]  # list index = centroid_id
    vec_col: str
    id_col: str


def _train_centroids(sample: np.ndarray, n_lists: int, seed: int,
                     max_iter: int) -> np.ndarray:
    """Lloyd's algorithm, kmeans++-free deterministic init (evenly spaced
    rows of the shuffled sample). Empty clusters re-seeded from the farthest
    points — classic IVF training, pure numpy."""
    rng = np.random.default_rng(seed)
    idx = rng.permutation(len(sample))[:n_lists]
    cent = sample[idx].astype(np.float64, copy=True)
    x = sample.astype(np.float64, copy=False)
    for _ in range(max_iter):
        # assign: (n, k) squared distances via the expanded-form matmul
        d = ((x * x).sum(1)[:, None] - 2.0 * (x @ cent.T)
             + (cent * cent).sum(1)[None, :])
        a = d.argmin(1)
        new = np.zeros_like(cent)
        counts = np.bincount(a, minlength=n_lists).astype(np.float64)
        np.add.at(new, a, x)
        nonempty = counts > 0
        new[nonempty] /= counts[nonempty, None]
        if not nonempty.all():  # re-seed empties from farthest points
            far = d.min(1).argsort()[::-1]
            new[~nonempty] = x[far[: (~nonempty).sum()]]
        if np.allclose(new, cent):
            cent = new
            break
        cent = new
    return cent


# n_lists × dim budget for the JVM expression paths. Measured on 1M 16-dim
# rows (local[32]): 64×16=1024 cells runs 1.8-4s unrolled vs ~9s Arrow/BLAS,
# but 256×16=4096 cells already loses (17s vs 9s — the expression outgrows
# janino method limits and falls back to interpreted projection), so the
# crossover sits near 2k cells.
_JVM_ASSIGN_MAX_CELLS = 2048

# Add-chain depth budget for the unrolled form: janino compile cost grows
# sharply with expression nesting depth (= dim), not cell count — 4×64
# (256 cells) costs ~10s of compile and can OOM plan canonicalization,
# while 64×16 (1024 cells) compiles instantly. Deeper vectors use the
# compact HOF form instead: interpreted per element, zero compile risk.
_JVM_UNROLL_MAX_DIM = 32


def _dist_exprs(xs: list, cent: np.ndarray) -> list:
    """Argmin-equivalent expanded-form distances ‖c‖² − 2·x·c (‖x‖² is
    constant per row) as straight-line arithmetic over scalar element
    columns. No HOF lambdas: aggregate/zip_with are CodegenFallback —
    interpreted per element — which made the old per-centroid l2_sq
    assignment ~8× slower at 1M×64×16. Same expanded form as the BLAS
    path, so the two paths agree numerically to rounding."""
    out = []
    for c in cent:
        e = F.lit(float((c * c).sum()))
        for i, ci in enumerate(c):
            e = e + xs[i] * F.lit(-2.0 * float(ci))
        out.append(e)
    return out


def _assign_expr_jvm(vec_col: str, cent: np.ndarray):
    """centroid_id as a pure JVM expression (no Python workers), argmin via
    array_position(min). Two forms by shape: unrolled expanded-form
    straight-line arithmetic for shallow vectors (fastest per row), compact
    per-centroid l2_sq HOFs for deeper ones (see _JVM_UNROLL_MAX_DIM).
    Prefer :func:`with_centroid_id` where a DataFrame is in hand — it
    extracts each vector element once instead of once per centroid."""
    if cent.shape[1] <= _JVM_UNROLL_MAX_DIM:
        xs = [F.col(vec_col)[i].cast("double") for i in range(cent.shape[1])]
        dists = F.array(*_dist_exprs(xs, cent))
    else:
        from vectordb_testbricks_spark.functions.vector import l2_sq
        dists = F.array(*[
            l2_sq(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c]))
            for c in cent])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def with_centroid_id(df: DataFrame, vec_col: str, cent: np.ndarray,
                     out_col: str = "centroid_id") -> DataFrame:
    """Append the centroid assignment as ``out_col`` — the DataFrame-level
    fast path all build/append sites route through. On the JVM path the
    assignment is two-step: project each vector element to a scalar
    attribute once, then evaluate the n_lists distances over the
    attributes. CollapseProject keeps the split (an outer Project that
    references a non-cheap alias n_lists times is not collapsed), so each
    element is extracted once instead of once per centroid — measured
    ~2.3× over the single-expression form at 1M×64×16."""
    spark = df.sparkSession
    if cent.shape[0] * cent.shape[1] > _JVM_ASSIGN_MAX_CELLS:
        return df.withColumn(out_col,
                             _assign_expr_pandas(vec_col, cent, spark))
    if cent.shape[1] > _JVM_UNROLL_MAX_DIM:
        return df.withColumn(out_col, _assign_expr_jvm(vec_col, cent))
    dim = cent.shape[1]
    # temp names must not collide with the caller's columns: select('*',
    # alias) would create a duplicate, and the trailing drop would take
    # the caller's column with it. Suffix until the namespace is clear.
    taken = set(df.columns)
    sfx = ""
    while any(f"_cd_x{i}{sfx}" in taken for i in range(dim)):
        sfx += "_"
    tmp = [f"_cd_x{i}{sfx}" for i in range(dim)]
    proj = df.select(
        "*", *[F.col(vec_col)[i].cast("double").alias(t)
               for i, t in enumerate(tmp)])
    dists = F.array(*_dist_exprs([F.col(t) for t in tmp], cent))
    cid = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return proj.withColumn(out_col, cid).drop(*tmp)


def _assign_expr_pandas(vec_col: str, cent: np.ndarray, spark):
    """Arrow-batched BLAS assignment — the path for large n_lists, where a
    literal-centroid expression would blow up codegen."""
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        c = bc.value
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(x) == 0:
            return pd.Series([], dtype="int32")
        d = ((x * x).sum(1)[:, None] - 2.0 * (x @ c.T)
             + (c * c).sum(1)[None, :])
        return pd.Series(d.argmin(1).astype(np.int32))

    return assign(F.col(vec_col))


def build_ivf(base: DataFrame, vec_col: str, id_col: str,
              n_lists: int = 64, seed: int = 7, max_iter: int = 10,
              train_sample: int = 20_000) -> IvfModel:
    """Batch-build the IVF index: sampled centroid training, then per-row
    assignment — JVM codegen for moderate n_lists×dim, Pandas UDF beyond."""
    rows = (base.select(vec_col).sample(0.5, seed=seed)
            .limit(train_sample).collect())
    if len(rows) < train_sample:  # small table: train on everything
        rows = base.select(vec_col).limit(train_sample).collect()
    sample = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    cent = _train_centroids(sample, min(n_lists, len(sample)), seed, max_iter)

    assigned = with_centroid_id(base, vec_col, cent)
    return IvfModel(assigned=assigned, centroids=cent.tolist(),
                    vec_col=vec_col, id_col=id_col)


def _centroids_path(path: str) -> str:
    return path.rstrip("/") + "_centroids"


def write_ivf(model: IvfModel, path: str) -> None:
    """Persist the assignment partitioned by centroid_id → probing becomes
    partition pruning on the read path. The trained centroids land beside
    the data (``<path>_centroids``, a k×dim parquet — tiny) so the
    persisted index is self-contained: append/read need no in-session
    model object.

    The write repartitions on centroid_id first: without it every input
    task emits one file per list it touches (tasks × n_lists small files
    — at cluster scale, thousands of tasks × hundreds of lists is a
    small-files catastrophe); clustered, each list is one file per
    shuffle partition that owns it."""
    model.assigned.repartition(F.col("centroid_id")) \
        .write.mode("overwrite") \
        .partitionBy("centroid_id").parquet(path)
    sess = model.assigned.sparkSession
    meta = sess.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.centroids)],
        "centroid_id int, centroid array<double>")
    meta.coalesce(1).write.mode("overwrite").parquet(_centroids_path(path))


def read_centroids(spark, path: str) -> list[list[float]]:
    """The persisted centroid table of an IVF layout at ``path``."""
    rows = (spark.read.parquet(_centroids_path(path))
            .orderBy("centroid_id").collect())
    return [list(r["centroid"]) for r in rows]


def read_ivf(spark, path: str, vec_col: str, id_col: str,
             centroids: list[list[float]] | None = None) -> IvfModel:
    """Reload a persisted IVF table; centroids come from the sidecar table
    written by :func:`write_ivf` unless passed explicitly."""
    if centroids is None:
        centroids = read_centroids(spark, path)
    return IvfModel(assigned=spark.read.parquet(path), centroids=centroids,
                    vec_col=vec_col, id_col=id_col)


def append_ivf(new_rows: DataFrame, path: str, vec_col: str,
               id_col: str) -> None:
    """Index maintenance under continuous ingest: assign a new batch to the
    EXISTING persisted centroids and append its files into the partitioned
    layout. No retrain, no touch of the resident data — cost scales with
    the batch, not the index, which is what keeps a 100-TB IVF fresh while
    a stream ingests (Faiss `add` after `train`, as a parquet append).
    Centroid drift is the trade-off: monitor with :func:`ivf_balance` and
    retrain (build_ivf + write_ivf) when imbalance crosses a threshold."""
    cent = np.asarray(read_centroids(new_rows.sparkSession, path),
                      dtype=np.float64)
    (with_centroid_id(new_rows, vec_col, cent)
     .repartition(F.col("centroid_id"))   # small-files guard, as write_ivf
     .write.mode("append").partitionBy("centroid_id").parquet(path))


def ivf_balance(spark, path: str) -> DataFrame:
    """Per-list occupancy of a persisted IVF layout: (centroid_id, n_rows,
    frac, imbalance) where imbalance = n_rows / mean — the retrain signal.
    Reads only the partition column (metadata-cheap at any scale)."""
    counts = (spark.read.parquet(path)
              .groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_rows")))
    # k-row aggregate rebroadcast — no single-partition window needed
    tot = counts.agg(F.sum("n_rows").alias("_total"),
                     F.avg("n_rows").alias("_mean"))
    return (counts.crossJoin(F.broadcast(tot)).select(
        "centroid_id", "n_rows",
        (F.col("n_rows") / F.col("_total")).alias("frac"),
        (F.col("n_rows") / F.col("_mean")).alias("imbalance"))
        .orderBy(F.col("n_rows").desc()))


@dataclass
class SparseInvModel:
    """SPARSE_INVERTED_INDEX (reference index vocabulary,
    schema_matrix_2_6.yaml:63,80 — metric IP/BM25 over
    SPARSE_FLOAT_VECTOR): the map column exploded into bucketed postings
    ``(id, key, weight, _bucket)``. Exact, not approximate — the physical
    layout changes what a query READS (matching buckets/row-groups), never
    what it returns; full-postings == brute-force is an identity asserted
    in tests like the IVF full-probe identity."""
    postings: DataFrame
    key_col: str
    id_col: str
    weight_col: str
    n_buckets: int


SPARSE_BUCKET_COL = "_bucket"


def build_sparse_inverted(base: DataFrame, map_col: str, id_col: str,
                          n_buckets: int = 64) -> SparseInvModel:
    """Explode a SPARSE_FLOAT_VECTOR column into bucketed postings. The
    bucket is crc32(key) % n_buckets — computable driver-side
    (search.sparse_bucket_py), so a query prunes partition dirs from its
    literal keys before any IO.

    The explode stage is the Arrow-batched kernel
    (arrow_kernels.sparse_postings_arrow): postings identical to the
    Column explode ``search.sparse_postings`` (the reference the identity
    tests compare against), immune to the per-JVM HotSpot slow mode that
    hit that stage's HOF eval chain at 1M+ rows (BASELINE.md r08).
    Bucket assignment is a flat codegen crc32 expression."""
    from vectordb_testbricks_spark.operators.arrow_kernels import (
        sparse_postings_arrow)
    from vectordb_testbricks_spark.operators.search import sparse_bucket_expr
    posts = sparse_postings_arrow(base, map_col, id_col).withColumn(
        SPARSE_BUCKET_COL, sparse_bucket_expr("key", n_buckets))
    return SparseInvModel(postings=posts, key_col="key", id_col=id_col,
                          weight_col="weight", n_buckets=n_buckets)


def write_sparse_inverted(model: SparseInvModel, path: str) -> None:
    """Persist the postings partitioned by bucket dir, sorted by key
    within each file: a query prunes dirs via its literal buckets, then
    parquet key min/max stats prune row groups inside the survivors.
    Clustered write (repartition on the bucket first) for the same
    small-files reason as write_ivf; n_buckets rides along in a 1-row
    meta sidecar so reads are self-contained."""
    (model.postings.repartition(F.col(SPARSE_BUCKET_COL))
     .sortWithinPartitions(model.key_col, model.id_col)
     .write.mode("overwrite")
     .partitionBy(SPARSE_BUCKET_COL).parquet(path))
    sess = model.postings.sparkSession
    sess.createDataFrame(
        [(model.n_buckets, model.key_col, model.id_col, model.weight_col)],
        "n_buckets int, key_col string, id_col string, weight_col string"
    ).coalesce(1).write.mode("overwrite").parquet(
        path.rstrip("/") + "_meta")


def read_sparse_inverted(spark, path: str) -> SparseInvModel:
    """Reload a persisted sparse inverted index written by
    :func:`write_sparse_inverted`."""
    meta = spark.read.parquet(path.rstrip("/") + "_meta").collect()[0]
    return SparseInvModel(postings=spark.read.parquet(path),
                          key_col=meta["key_col"], id_col=meta["id_col"],
                          weight_col=meta["weight_col"],
                          n_buckets=int(meta["n_buckets"]))


def sparse_inverted_search(model: SparseInvModel, query_maps: list[dict],
                           k: int = 10,
                           drop_ratio_search: float = 0.0) -> DataFrame:
    """Serve sparse IP top-k through the postings layout (bucket dirs +
    key In() pushdown + partial-agg dot) — the scale path for V6; the
    brute-force map scan in search.sparse_search_many stays the declared
    semantics and the oracle."""
    from vectordb_testbricks_spark.operators.search import (
        sparse_search_postings_many)
    return sparse_search_postings_many(
        model.postings, query_maps, model.id_col, k=k,
        drop_ratio_search=drop_ratio_search, key_col=model.key_col,
        weight_col=model.weight_col, bucket_col=SPARSE_BUCKET_COL,
        n_buckets=model.n_buckets)


def build_lsh(base: DataFrame, vec_col: str, id_col: str,
              bits: int = 12) -> DataFrame:
    """LSH-bucketed ANN table: rows keyed by the sign bucket of their
    normalized vector (coordinate-hyperplane SimHash, dedup.sign_block_key).
    Persist partitioned by `bucket` for pruned probes at scale — the
    random-projection sibling of the IVF centroid index."""
    from vectordb_testbricks_spark.functions.vector import (
        l2_normalize, to_double_array)
    from vectordb_testbricks_spark.operators.dedup import sign_block_key

    nv = l2_normalize(to_double_array(F.col(vec_col)))
    x = shared_persist(base.select(F.col(id_col), nv.alias("_nv")))
    return x.withColumn("bucket", sign_block_key(F.col("_nv"), bits))


def lsh_search(indexed: DataFrame, queries: DataFrame, id_col: str,
               k: int = 10, bits: int = 12, flip: int = 1) -> DataFrame:
    """Multi-probe LSH cosine search: probe the query's bucket plus every
    bucket within ``flip`` sign flips (flip=1 → bits+1 buckets — near
    neighbors whose borderline components straddle zero land there), then
    exact-rank the union. Approximate, like IVF/nprobe; brute force stays
    the oracle. Both sides are unit-normalized, so the score is a plain dot
    product (cosine)."""
    import itertools

    from vectordb_testbricks_spark.functions.vector import dot, l2_normalize
    from vectordb_testbricks_spark.operators.dedup import sign_block_key
    from vectordb_testbricks_spark.operators.search import _ranked

    # normalized query projection: materialized by collect + broadcast, so
    # the normalize expression is never inlined into per-pair lambdas
    q = (queries.select("query_id",
                        l2_normalize(F.col("qvec")).alias("qvec"))
         .withColumn("_qb", sign_block_key(F.col("qvec"), bits)))
    qrows = q.collect()
    masks = [0]
    for n_flips in range(1, flip + 1):
        masks += [sum(1 << i for i in combo) for combo in
                  itertools.combinations(range(bits), n_flips)]
    probe = [(int(r["query_id"]), int(r["_qb"]) ^ m)
             for r in qrows for m in masks]
    spark = queries.sparkSession
    probe_df = spark.createDataFrame(probe, "query_id int, bucket bigint")
    qn = spark.createDataFrame(
        [(int(r["query_id"]), list(r["qvec"])) for r in qrows],
        "query_id int, qvec array<double>")
    pruned = indexed.join(F.broadcast(probe_df), "bucket")
    scored = (pruned.join(F.broadcast(qn), "query_id")
              .select("query_id", id_col,
                      dot(F.col("_nv"), F.col("qvec")).alias("score")))
    return _ranked(scored, id_col, asc=False, k=k)


@dataclass
class Sq8Model:
    quantized: DataFrame           # id_col, centroid_id, _q8 array<tinyint>
    vmin: list[float]              # per-dim lower quantization bound
    inv_scale: list[float]         # per-dim (vmax - vmin) / 255
    centroids: list[list[float]]   # trained on *normalized* vectors
    base: DataFrame                # original float table (exact rescore side)
    vec_col: str
    id_col: str


def build_ivf_sq8(base: DataFrame, vec_col: str, id_col: str,
                  n_lists: int = 16, seed: int = 7, max_iter: int = 10,
                  train_sample: int = 20_000) -> Sq8Model:
    """IVF_SQ8 (reference index vocabulary, 2.6/common.py:882-898): IVF
    centroid lists over 8-bit scalar-quantized vectors.

    The 100-TB point of SQ8 is scan size: the stored vector column shrinks
    4× vs float32 (8× vs double), so the probe phase reads a quarter of the
    bytes — per-dim min/max bounds are trained on the same driver-side
    sample as the centroids (the Faiss recipe: bounds from ~10-20k samples
    hold regardless of corpus size).

    Vectors are L2-normalized *before* quantization, so inner product ==
    cosine and one quantization serves both metrics. The normalized
    projection is persisted first — HOF lambdas are not CSE'd, and feeding
    an un-materialized normalize into zip_with re-evaluates it per element.
    """
    from vectordb_testbricks_spark.functions.vector import (
        l2_normalize, to_double_array)

    nv = l2_normalize(to_double_array(F.col(vec_col)))
    x = shared_persist(base.select(id_col, nv.alias("_nv")))

    rows = (x.select("_nv").sample(0.5, seed=seed)
            .limit(train_sample).collect())
    if len(rows) < train_sample:
        rows = x.select("_nv").limit(train_sample).collect()
    sample = np.asarray([list(r["_nv"]) for r in rows], dtype=np.float64)
    cent = _train_centroids(sample, min(n_lists, len(sample)), seed, max_iter)
    vmin = sample.min(axis=0)
    inv = np.maximum((sample.max(axis=0) - vmin) / 255.0, 1e-12)

    vmin_arr = F.array(*[F.lit(float(v)) for v in vmin])
    inv_arr = F.array(*[F.lit(float(v)) for v in inv])
    # q = clamp(round((x - vmin)/inv), 0, 255) - 128, stored as tinyint
    q8 = F.zip_with(
        F.zip_with(F.col("_nv"), vmin_arr, lambda a, b: a - b),
        inv_arr,
        lambda d, s: (F.greatest(F.lit(0.0),
                                 F.least(F.lit(255.0), F.round(d / s)))
                      .cast("int") - 128).cast("tinyint"))
    quantized = (with_centroid_id(x, "_nv", cent)
                 .select(id_col, "centroid_id", q8.alias("_q8")))
    return Sq8Model(quantized=quantized, vmin=[float(v) for v in vmin],
                    inv_scale=[float(v) for v in inv],
                    centroids=cent.tolist(), base=base,
                    vec_col=vec_col, id_col=id_col)


def write_sq8(model: Sq8Model, path: str) -> None:
    """Persist the quantized table partitioned by centroid_id — probing
    prunes file groups on the read path, and the stored bytes are the
    1-byte-per-dim layout (the scan-size win survives the round-trip).
    Clustered on centroid_id before the write, same small-files rationale
    as :func:`write_ivf`."""
    model.quantized.repartition(F.col("centroid_id")) \
        .write.mode("overwrite") \
        .partitionBy("centroid_id").parquet(path)


def read_sq8(spark, path: str, model_meta: Sq8Model) -> Sq8Model:
    """Reload a persisted SQ8 table; bounds/centroids travel separately
    (tiny driver-side metadata, like read_ivf)."""
    return Sq8Model(quantized=spark.read.parquet(path),
                    vmin=model_meta.vmin, inv_scale=model_meta.inv_scale,
                    centroids=model_meta.centroids, base=model_meta.base,
                    vec_col=model_meta.vec_col, id_col=model_meta.id_col)


def ivf_sq8_search(model: Sq8Model, queries: DataFrame, k: int = 10,
                   nprobe: int = 8, rerank_k: int | None = None) -> DataFrame:
    """Probe nprobe lists, rank candidates on the quantized column, then
    exact-rescore the top ``rerank_k`` on the original float vectors.

    The quantized approximate score folds dequantization into the *query*
    side: with stored q_i = round((x_i - vmin_i)/inv_i) - 128,
    IP(x̂, q⃗) = Σ q_i·(inv_i·q⃗_i) + Σ (vmin_i + 128·inv_i)·q⃗_i — a plain
    dot against a per-query reweighted vector plus a per-query constant,
    both computed driver-side. The stored-side expression is therefore the
    same codegen dot product as the float path, but over 1-byte elements.

    Rescore joins the nq×rerank_k candidate set back to the float table by
    broadcast hash join — no shuffle of the base; at scale, a base laid out
    bucketed by id turns that scan into pruned file reads.
    """
    from vectordb_testbricks_spark.functions.vector import cosine_sim, dot
    from vectordb_testbricks_spark.operators.search import _ranked

    rerank_k = rerank_k or max(4 * k, 32)
    vmin = np.asarray(model.vmin)
    inv = np.asarray(model.inv_scale)
    qrows = queries.collect()  # nq small by contract (reference nq ≤ 100)
    probes, qweights, qfloat = [], [], []
    for r in qrows:
        qid = int(r["query_id"])
        qv = np.asarray(list(r["qvec"]), dtype=np.float64)
        qn = qv / max(float(np.linalg.norm(qv)), 1e-30)
        probes += [(qid, int(c))
                   for c in _nearest_lists(qn.tolist(), model.centroids,
                                           nprobe)]
        qweights.append((qid, [float(v) for v in inv * qn],
                         float(((vmin + 128.0 * inv) * qn).sum())))
        qfloat.append((qid, [float(v) for v in qv]))
    spark = queries.sparkSession
    probe_df = spark.createDataFrame(probes, "query_id int, centroid_id int")
    qw = spark.createDataFrame(
        qweights, "query_id int, w array<double>, c double")

    pruned = model.quantized.join(F.broadcast(probe_df), "centroid_id")
    approx = (pruned.join(F.broadcast(qw), "query_id")
              .select("query_id", model.id_col,
                      (dot(F.col("_q8"), F.col("w")) + F.col("c"))
                      .alias("score")))
    cand = (_ranked(approx, model.id_col, asc=False, k=rerank_k)
            .select("query_id", model.id_col))

    qn_df = spark.createDataFrame(qfloat, "query_id int, qvec array<double>")
    rescored = (model.base.join(F.broadcast(cand), model.id_col)
                .join(F.broadcast(qn_df), "query_id")
                .select("query_id", model.id_col,
                        cosine_sim(F.col(model.vec_col), F.col("qvec"))
                        .alias("score")))
    return _ranked(rescored, model.id_col, asc=False, k=k)


def _pack_query_bits(qv: list[float]) -> list[int]:
    """Driver-side twin of functions.vector.pack_sign_bits (tested equal):
    sign bits packed into 32-bit words, bit j of word w = [qv[32w+j] >= 0]."""
    dim = len(qv)
    words = []
    for w in range((dim + 31) // 32):
        acc = 0
        for x in reversed(qv[w * 32: w * 32 + 32]):
            acc = acc * 2 + (1 if x >= 0 else 0)
        words.append(acc)
    return words


@dataclass
class BinIvfModel:
    packed: DataFrame              # id_col, centroid_id, _bits array<bigint>
    centroids: list[list[float]]   # trained on normalized vectors
    base: DataFrame                # original float table (exact rescore side)
    vec_col: str
    id_col: str


def build_bin_ivf(base: DataFrame, vec_col: str, id_col: str,
                  n_lists: int = 16, seed: int = 7, max_iter: int = 10,
                  train_sample: int = 20_000) -> BinIvfModel:
    """BIN_IVF_FLAT (reference index vocabulary, 2.6/common.py:882-898):
    IVF inverted lists over 1-bit sign-packed vectors.

    binary_rerank_search's coarse phase is a *full* packed scan (32× fewer
    bytes, but every row); this composes it with the IVF coarse quantizer
    so the hamming phase reads only nprobe/n_lists of the packed bytes —
    at 100 TB that is the difference between ~3 TB and ~3·nprobe/n_lists TB
    per probe. Centroids are trained on normalized vectors (sign bits are
    scale-invariant, so packing reads the raw float column)."""
    from vectordb_testbricks_spark.functions.vector import (
        l2_normalize, pack_sign_bits, to_double_array)

    nv = l2_normalize(to_double_array(F.col(vec_col)))
    x = shared_persist(base.select(id_col, F.col(vec_col), nv.alias("_nv")))
    rows = (x.select("_nv").sample(0.5, seed=seed)
            .limit(train_sample).collect())
    if len(rows) < train_sample:
        rows = x.select("_nv").limit(train_sample).collect()
    sample = np.asarray([list(r["_nv"]) for r in rows], dtype=np.float64)
    cent = _train_centroids(sample, min(n_lists, len(sample)), seed, max_iter)

    packed = (with_centroid_id(x, "_nv", cent)
              .select(id_col, "centroid_id",
                      pack_sign_bits(F.col(vec_col)).alias("_bits")))
    return BinIvfModel(packed=packed, centroids=cent.tolist(), base=base,
                       vec_col=vec_col, id_col=id_col)


def write_bin_ivf(model: BinIvfModel, path: str) -> None:
    """Persist packed lists partitioned by centroid_id — probes prune file
    groups AND read the 1-bit layout (both scan savings survive)."""
    model.packed.repartition(F.col("centroid_id")) \
        .write.mode("overwrite") \
        .partitionBy("centroid_id").parquet(path)


def read_bin_ivf(spark, path: str, model_meta: BinIvfModel) -> BinIvfModel:
    return BinIvfModel(packed=spark.read.parquet(path),
                       centroids=model_meta.centroids, base=model_meta.base,
                       vec_col=model_meta.vec_col, id_col=model_meta.id_col)


def bin_ivf_search(model: BinIvfModel, queries: DataFrame, k: int = 10,
                   nprobe: int = 8, rerank_k: int | None = None,
                   metric: str = "COSINE") -> DataFrame:
    """Probe nprobe lists, hamming-rank the packed bits within them, exact
    cosine rescore of the top rerank_k on the float column (broadcast join,
    no base shuffle) — same two-phase shape as the SQ8 path.

    metric="HAMMING" (the canonical BIN_IVF_FLAT pairing for binary
    vectors) skips the cosine rescore: packed hamming IS the declared
    distance, ranked ascending, score = hamming."""
    from vectordb_testbricks_spark.functions.vector import (
        cosine_sim, hamming_packed)
    from vectordb_testbricks_spark.operators.search import _ranked

    rerank_k = rerank_k or max(8 * k, 64)
    qrows = queries.collect()  # nq small by contract (reference nq ≤ 100)
    probes, qmeta = [], []
    for r in qrows:
        qid = int(r["query_id"])
        qv = np.asarray(list(r["qvec"]), dtype=np.float64)
        qn = qv / max(float(np.linalg.norm(qv)), 1e-30)
        probes += [(qid, int(c))
                   for c in _nearest_lists(qn.tolist(), model.centroids,
                                           nprobe)]
        qmeta.append((qid, _pack_query_bits([float(x) for x in qv]),
                      [float(x) for x in qv]))
    spark = queries.sparkSession
    probe_df = spark.createDataFrame(probes, "query_id int, centroid_id int")
    qdf = spark.createDataFrame(
        qmeta, "query_id int, qbits array<bigint>, qvec array<double>")

    pruned = model.packed.join(F.broadcast(probe_df), "centroid_id")
    approx = (pruned.join(F.broadcast(qdf.select("query_id", "qbits")),
                          "query_id")
              .select("query_id", model.id_col,
                      hamming_packed(F.col("_bits"), F.col("qbits"))
                      .alias("score")))
    if metric.upper() == "HAMMING":
        return _ranked(approx, model.id_col, asc=True, k=k)
    cand = (_ranked(approx, model.id_col, asc=True, k=rerank_k)
            .select("query_id", model.id_col))
    rescored = (model.base.join(F.broadcast(cand), model.id_col)
                .join(F.broadcast(qdf.select("query_id", "qvec")),
                      "query_id")
                .select("query_id", model.id_col,
                        cosine_sim(F.col(model.vec_col), F.col("qvec"))
                        .alias("score")))
    return _ranked(rescored, model.id_col, asc=False, k=k)


def binary_rerank_search(base: DataFrame, queries: DataFrame, vec_col: str,
                         id_col: str, k: int = 10,
                         rerank_k: int | None = None,
                         metric: str = "COSINE") -> DataFrame:
    """1-bit quantized search with exact rescore — the IVF_RABITQ /
    BIN_IVF_FLAT analogue (reference index vocabulary 2.6/common.py:882-898;
    RaBitQ brick mc_create_rabitq_mmap.py).

    Candidate generation scans sign-bit-packed vectors (32× smaller than
    float32 — at 100 TB the candidate scan reads ~3 TB) ranked by packed
    hamming distance (popcount(xor), 64 dims per integer op), then the top
    ``rerank_k`` candidates are exact-rescored on the float column via
    broadcast join, exactly like the SQ8 path. Monotone cosine ↔ hamming
    correlation on normalized data makes sign-bit hamming a sound coarse
    ranker; the rescore restores exact ordering within the candidate set.
    """
    from vectordb_testbricks_spark.functions.vector import (
        cosine_sim, hamming_packed, pack_sign_bits)
    from vectordb_testbricks_spark.operators.search import _ranked

    rerank_k = rerank_k or max(8 * k, 64)
    packed = base.select(id_col, pack_sign_bits(F.col(vec_col)).alias("_bits"))

    qrows = queries.collect()
    qmeta = []
    for r in qrows:
        qv = [float(x) for x in r["qvec"]]
        qmeta.append((int(r["query_id"]), _pack_query_bits(qv), qv))
    spark = queries.sparkSession
    qdf = spark.createDataFrame(
        qmeta, "query_id int, qbits array<bigint>, qvec array<double>")

    approx = (packed.crossJoin(F.broadcast(qdf.select("query_id", "qbits")))
              .select("query_id", id_col,
                      hamming_packed(F.col("_bits"), F.col("qbits"))
                      .alias("score")))
    if metric.upper() == "HAMMING":
        # binary-vector semantics: hamming IS the declared distance
        return _ranked(approx, id_col, asc=True, k=k)
    cand = (_ranked(approx, id_col, asc=True, k=rerank_k)
            .select("query_id", id_col))
    rescored = (base.join(F.broadcast(cand), id_col)
                .join(F.broadcast(qdf.select("query_id", "qvec")), "query_id")
                .select("query_id", id_col,
                        cosine_sim(F.col(vec_col), F.col("qvec"))
                        .alias("score")))
    return _ranked(rescored, id_col, asc=False, k=k)


@dataclass
class AnnIndex:
    """A declared IndexSpec realized as a physical ANN structure + default
    search params — the engine-side twin of the reference's
    (index_type, params) vocabulary (2.6/common.py:882-898)."""
    kind: str                       # flat | ivf | sq8 | bin_ivf | bin_rerank
    model: object | None
    base: DataFrame
    vec_col: str
    id_col: str
    metric: str
    search_params: dict

    def search(self, queries: DataFrame, k: int = 10, **overrides) -> DataFrame:
        """Serve a top-k search through whichever physical structure the
        spec mapped to; ``overrides`` replace the default search params
        (e.g. nprobe=..., like passing search_params per request)."""
        from vectordb_testbricks_spark.operators.search import knn_search
        p = {**self.search_params, **overrides}
        if self.kind == "flat":
            return knn_search(self.base, queries, self.vec_col, self.id_col,
                              metric=self.metric, k=k)
        if self.kind == "ivf":
            return ivf_search(self.model, queries, k=k,
                              nprobe=p["nprobe"], metric=self.metric)
        if self.kind == "sq8":
            return ivf_sq8_search(self.model, queries, k=k,
                                  nprobe=p["nprobe"],
                                  rerank_k=p.get("rerank_k"))
        if self.kind == "bin_ivf":
            return bin_ivf_search(self.model, queries, k=k,
                                  nprobe=p["nprobe"],
                                  rerank_k=p.get("rerank_k"),
                                  metric=self.metric)
        if self.kind == "bin_rerank":
            return binary_rerank_search(self.base, queries, self.vec_col,
                                        self.id_col, k=k,
                                        rerank_k=p.get("rerank_k"),
                                        metric=self.metric)
        if self.kind == "sparse_inv":
            # sparse queries are (query_id, qmap) rows, not dense qvecs;
            # nq is small by contract (reference nq <= 100). The postings
            # path numbers queries positionally, so map its ids back to
            # the caller's — every other kind preserves them through the
            # queries DataFrame (review r07 #1).
            rows = queries.orderBy("query_id").collect()
            maps = [dict(r["qmap"]) for r in rows]
            hits = sparse_inverted_search(
                self.model, maps, k=k,
                drop_ratio_search=p.get("drop_ratio_search", 0.0))
            qids = [r["query_id"] for r in rows]
            if qids != list(range(len(qids))):
                hits = hits.withColumn(
                    "query_id",
                    F.element_at(F.array(*[F.lit(int(q)) for q in qids]),
                                 F.col("query_id") + 1))
            return hits
        raise ValueError(f"unknown index kind {self.kind!r}")


def build_from_index_spec(base: DataFrame, id_col: str, index,
                          seed: int = 7) -> AnnIndex:
    """Realize a declared ``IndexSpec`` (schema vocabulary: FLAT, IVF_FLAT,
    IVF_SQ8, IVF_RABITQ, BIN_IVF_FLAT, HNSW, DISKANN, AUTOINDEX —
    2.6/common.py:882-898) as the matching physical structure.

    Graph indexes map onto the IVF family (COVERAGE.md graph-index note):
    a batch engine has no navigable graph, but the same accuracy/cost dial
    exists — ``n_lists`` ≈ √n (the standard IVF sizing) bounded by the
    declared M, and ``ef``/``efConstruction``/``search_list_size`` sets the
    candidate pool: nprobe is chosen so nprobe·(n/n_lists) ≈ ef, so a user
    raising ef gets strictly more candidates exactly as in HNSW."""
    import math
    t = index.index_type.upper()
    params = dict(index.params or {})
    metric = (index.metric_type or "COSINE").upper()
    vec_col = index.field

    # SQ8 normalizes vectors at build time, so its scores are cosine by
    # construction; the binary tiers additionally serve HAMMING (the
    # canonical BIN_IVF_FLAT pairing — hamming IS their coarse distance,
    # and with metric=HAMMING the cosine rescore is skipped). Reject other
    # metrics loudly instead of returning cosine rankings under an L2 label
    if t == "IVF_SQ8" and metric != "COSINE":
        raise ValueError(
            f"{t} serves COSINE only (vectors are normalized before "
            f"quantization); got metric_type={metric!r}. Use FLAT/IVF_FLAT "
            f"for exact {metric} semantics.")
    if t in ("BIN_IVF_FLAT", "IVF_RABITQ") and metric not in ("COSINE",
                                                              "HAMMING"):
        raise ValueError(
            f"{t} serves COSINE or HAMMING; got metric_type={metric!r}. "
            f"Use FLAT/IVF_FLAT for exact {metric} semantics.")

    if t == "FLAT":
        return AnnIndex("flat", None, base, vec_col, id_col, metric, {})
    if t in ("IVF_FLAT", "AUTOINDEX"):
        n_lists = int(params.get("nlist", 64))
        model = build_ivf(base, vec_col, id_col, n_lists=n_lists, seed=seed)
        return AnnIndex("ivf", model, base, vec_col, id_col, metric,
                        {"nprobe": max(1, n_lists // 8)})
    if t == "IVF_SQ8":
        n_lists = int(params.get("nlist", 64))
        model = build_ivf_sq8(base, vec_col, id_col, n_lists=n_lists,
                              seed=seed)
        return AnnIndex("sq8", model, base, vec_col, id_col, metric,
                        {"nprobe": max(1, n_lists // 8)})
    if t == "BIN_IVF_FLAT":
        n_lists = int(params.get("nlist", 64))
        model = build_bin_ivf(base, vec_col, id_col, n_lists=n_lists,
                              seed=seed)
        return AnnIndex("bin_ivf", model, base, vec_col, id_col, metric,
                        {"nprobe": max(1, n_lists // 8)})
    if t == "IVF_RABITQ":
        # 1-bit quantization serves through the nprobe-pruned BIN_IVF
        # structure — the scale-safe binary default: the coarse phase reads
        # nprobe/n_lists of the (already 32× compressed) packed bits instead
        # of all of them. binary_rerank_search's full coarse scan stays
        # available as the explicit full-corpus rescore primitive only.
        n_lists = int(params.get("nlist", 64))
        model = build_bin_ivf(base, vec_col, id_col, n_lists=n_lists,
                              seed=seed)
        return AnnIndex("bin_ivf", model, base, vec_col, id_col, metric,
                        {"nprobe": max(1, n_lists // 8),
                         "rerank_k": int(params.get("refine_k", 0)) or None})
    if t == "SPARSE_INVERTED_INDEX":
        if metric not in ("IP", "BM25"):
            raise ValueError(
                f"SPARSE_INVERTED_INDEX serves IP (or BM25 via function "
                f"fields); got metric_type={metric!r}.")
        model = build_sparse_inverted(
            base, vec_col, id_col,
            n_buckets=int(params.get("n_buckets", 64)))
        return AnnIndex("sparse_inv", model, base, vec_col, id_col, "IP",
                        {"drop_ratio_search":
                         float(params.get("drop_ratio_search", 0.0))})
    if t in ("HNSW", "DISKANN"):
        m = int(params.get("M", 32))
        ef = int(params.get("ef", params.get(
            "efConstruction", params.get("search_list_size", 256))))
        n = base.count()
        n_lists = max(4, min(int(round(math.sqrt(max(n, 1)))), 16 * m, 4096))
        model = build_ivf(base, vec_col, id_col, n_lists=n_lists, seed=seed)
        avg_list = max(n / n_lists, 1.0)
        nprobe = max(1, min(n_lists, math.ceil(ef / avg_list)))
        return AnnIndex("ivf", model, base, vec_col, id_col, metric,
                        {"nprobe": nprobe})
    raise ValueError(f"unsupported vector index type {t!r}")


def _nearest_lists(qvec: list[float], centroids: list[list[float]],
                   nprobe: int) -> list[int]:
    """Driver-side: nprobe nearest centroids by L2 (tiny)."""
    c = np.asarray(centroids, dtype=float)
    q = np.asarray(qvec, dtype=float)
    d = ((c - q) ** 2).sum(axis=1)
    return [int(i) for i in d.argsort()[:nprobe]]


def ivf_search(model: IvfModel, queries: DataFrame, k: int = 10,
               nprobe: int = 8, metric: str = "COSINE") -> DataFrame:
    """Probe: restrict each query to its nprobe nearest inverted lists, then
    exact-rank within the pruned subset (same plan shape as knn_search)."""
    from vectordb_testbricks_spark.operators.search import _ranked, knn_score

    qrows = queries.collect()  # nq is small by contract (reference nq ≤ 100)
    probe = [(int(r["query_id"]), int(c))
             for r in qrows
             for c in _nearest_lists(list(r["qvec"]), model.centroids, nprobe)]
    spark = queries.sparkSession
    probe_df = spark.createDataFrame(probe, "query_id int, centroid_id int")
    pruned = model.assigned.join(F.broadcast(probe_df), "centroid_id")
    q = queries.select("query_id", "qvec")
    score, asc = knn_score(spark, metric, model.vec_col)
    scored = (pruned.join(F.broadcast(q), "query_id")
              .select("query_id", model.id_col, score.alias("score")))
    return _ranked(scored, model.id_col, asc, k)
