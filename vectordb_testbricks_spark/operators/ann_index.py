"""IVF approximate-nearest-neighbor indexes (SURVEY.md §4: the performance
path mirroring the reference's IVF_FLAT / IVF_SQ8 / BIN_IVF_FLAT / nprobe
vocabulary, 2.6/common.py:882-898, workload.py:140-152).

One coarse quantizer, three list encodings — the shape of Faiss's
``IndexIVF``. Every IVF tier is an :class:`IvfModel` whose rows carry a
``centroid_id``; only what an inverted list stores differs:

  * ``flat`` (IVF_FLAT): the base rows themselves, scored exactly in-list;
  * ``sq8`` (IVF_SQ8): 8-bit scalar-quantized normalized vectors;
  * ``bin`` (BIN_IVF_FLAT, IVF_RABITQ): sign bits packed into 64-bit words.

Design (Spark-first, batch-built like any derived table):
  * train: Lloyd's iterations in numpy over a driver-side *sample* of the
    vectors (the standard IVF recipe — Faiss trains on ~max(10k, 50·nlist)
    samples regardless of corpus size, so the 100-TB build collects the same
    few MB). Deterministic under a fixed seed. ``flat`` trains on the raw
    vectors, ``sq8``/``bin`` on a persisted normalized projection.
  * assign: :func:`with_centroid_id` in one of two shapes — unrolled
    straight-line JVM arithmetic for shallow vectors within a cell budget,
    an Arrow-batched BLAS pandas UDF for everything else.
  * persist: :func:`write_ivf` partitions the lists by centroid_id and
    writes a sidecar with the centroids, the encoding and the SQ8 bounds,
    so :func:`read_ivf` reopens any encoding from its path alone and a
    probe prunes file groups instead of filtering rows.
  * probe: score the nq query vectors against the tiny centroid table
    driver-side, pick ``nprobe`` nearest lists per query, then rank only the
    rows whose centroid_id is probed — exactly for ``flat``; for ``sq8`` and
    ``bin`` approximately on the encoded column, followed by one exact
    cosine rescore of the top candidates on the float table.

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
    """A coarse quantizer over inverted lists of one ``encoding``.
    ``assigned`` holds centroid_id plus the list payload: every base column
    (flat), or id_col with ``_q8`` array<tinyint> (sq8) or ``_bits``
    array<bigint> (bin). Quantized lists keep ``base``, the float table
    their exact rescore reads; sq8 also keeps its per-dim bounds."""
    assigned: DataFrame
    centroids: list[list[float]]     # list index = centroid_id
    vec_col: str
    id_col: str
    encoding: str = "flat"           # flat | sq8 | bin
    base: DataFrame | None = None
    vmin: list[float] | None = None       # sq8: per-dim lower bound
    inv_scale: list[float] | None = None  # sq8: per-dim (vmax - vmin) / 255


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


# n_lists × dim budget for the unrolled JVM shape. Measured on 1M 16-dim
# rows (local[32]): 64×16=1024 cells runs 1.8-4s unrolled vs ~9s Arrow/BLAS,
# but 256×16=4096 cells already loses (17s vs 9s — the expression outgrows
# janino method limits and falls back to interpreted projection), so the
# crossover sits near 2k cells.
_JVM_ASSIGN_MAX_CELLS = 2048

# Add-chain depth budget for the unrolled shape: janino compile cost grows
# sharply with expression nesting depth (= dim), not cell count — 4×64
# (256 cells) costs ~10s of compile and can OOM plan canonicalization,
# while 64×16 (1024 cells) compiles instantly. Deeper vectors go to the
# Arrow/BLAS UDF: on a 4-core host it beat the per-centroid l2_sq HOF
# form it replaced at 500×64×16 (0.49 vs 1.49 s), 200k×64×16 (2.3 vs
# 11.9 s) and 200k×128×16 (2.1 vs 18.8 s), with identical assignments.
_JVM_UNROLL_MAX_DIM = 32


def _dist_exprs(xs: list, cent: np.ndarray) -> list:
    """Argmin-equivalent expanded-form distances ‖c‖² − 2·x·c (‖x‖² is
    constant per row) as straight-line arithmetic over scalar element
    columns. No HOF lambdas: aggregate/zip_with are CodegenFallback —
    interpreted per element — which made the old per-centroid l2_sq
    assignment ~8× slower at 1M×64×16. Same expanded form as the BLAS
    path, so the two shapes agree numerically to rounding."""
    out = []
    for c in cent:
        e = F.lit(float((c * c).sum()))
        for i, ci in enumerate(c):
            e = e + xs[i] * F.lit(-2.0 * float(ci))
        out.append(e)
    return out


def with_centroid_id(df: DataFrame, vec_col: str, cent: np.ndarray,
                     out_col: str = "centroid_id") -> DataFrame:
    """Append the centroid assignment as ``out_col`` — the one assignment
    every build/append site routes through, in two shapes. Vectors deeper
    than ``_JVM_UNROLL_MAX_DIM`` or past ``_JVM_ASSIGN_MAX_CELLS`` go to
    the Arrow/BLAS pandas UDF. The rest run unrolled JVM arithmetic in
    two steps: project each vector element to a scalar attribute once,
    then evaluate the n_lists distances over the attributes.
    CollapseProject keeps the split (an outer Project that references a
    non-cheap alias n_lists times is not collapsed), so each element is
    extracted once instead of once per centroid — measured ~2.3× over
    the single-expression form at 1M×64×16."""
    dim = cent.shape[1]
    if dim > _JVM_UNROLL_MAX_DIM or cent.shape[0] * dim > _JVM_ASSIGN_MAX_CELLS:
        return df.withColumn(
            out_col, _assign_expr_pandas(vec_col, cent, df.sparkSession))
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
    """Arrow-batched BLAS assignment — the shape for deep vectors and large
    n_lists, where a literal-centroid expression would blow up codegen."""
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


def _build(base: DataFrame, vec_col: str, id_col: str, encoding: str,
           n_lists: int, seed: int, max_iter: int,
           train_sample: int) -> IvfModel:
    """Sampled centroid training, then per-row assignment and the list
    encoding. ``flat`` trains on the raw vectors and its lists are the
    base rows. ``sq8``/``bin`` train and assign on the L2-normalized
    projection, persisted first — HOF lambdas are not CSE'd, and feeding
    an un-materialized normalize into zip_with re-evaluates it per
    element."""
    from vectordb_testbricks_spark.functions.vector import (
        l2_normalize, pack_sign_bits, to_double_array)

    src, col = base, vec_col
    if encoding != "flat":
        nv = l2_normalize(to_double_array(F.col(vec_col)))
        src, col = shared_persist(
            base.select(id_col, F.col(vec_col), nv.alias("_nv"))), "_nv"
    rows = src.select(col).sample(0.5, seed=seed).limit(train_sample).collect()
    if len(rows) < train_sample:  # small table: train on everything
        rows = src.select(col).limit(train_sample).collect()
    sample = np.asarray([list(r[col]) for r in rows], dtype=np.float64)
    cent = _train_centroids(sample, min(n_lists, len(sample)), seed, max_iter)
    model = IvfModel(with_centroid_id(src, col, cent), cent.tolist(),
                     vec_col, id_col)
    if encoding == "flat":
        return model
    if encoding == "bin":  # sign bits are scale-invariant: pack the raw column
        payload = pack_sign_bits(F.col(vec_col)).alias("_bits")
    else:
        vmin = sample.min(axis=0)
        inv = np.maximum((sample.max(axis=0) - vmin) / 255.0, 1e-12)
        model.vmin, model.inv_scale = vmin.tolist(), inv.tolist()
        vmin_arr = F.array(*[F.lit(float(v)) for v in vmin])
        inv_arr = F.array(*[F.lit(float(v)) for v in inv])
        # q = clamp(round((x - vmin)/inv), 0, 255) - 128, stored as tinyint
        payload = F.zip_with(
            F.zip_with(F.col("_nv"), vmin_arr, lambda a, b: a - b),
            inv_arr,
            lambda d, s: (F.greatest(F.lit(0.0),
                                     F.least(F.lit(255.0), F.round(d / s)))
                          .cast("int") - 128).cast("tinyint")).alias("_q8")
    model.assigned = model.assigned.select(id_col, "centroid_id", payload)
    model.encoding, model.base = encoding, base
    return model


def build_ivf(base: DataFrame, vec_col: str, id_col: str,
              n_lists: int = 64, seed: int = 7, max_iter: int = 10,
              train_sample: int = 20_000) -> IvfModel:
    """IVF_FLAT: inverted lists over the base rows themselves."""
    return _build(base, vec_col, id_col, "flat", n_lists, seed, max_iter,
                  train_sample)


def build_ivf_sq8(base: DataFrame, vec_col: str, id_col: str,
                  n_lists: int = 16, seed: int = 7, max_iter: int = 10,
                  train_sample: int = 20_000) -> IvfModel:
    """IVF_SQ8: inverted lists over 8-bit scalar-quantized vectors.

    The 100-TB point of SQ8 is scan size: the stored vector column shrinks
    4× vs float32 (8× vs double), so the probe phase reads a quarter of the
    bytes — per-dim min/max bounds are trained on the same driver-side
    sample as the centroids (the Faiss recipe: bounds from ~10-20k samples
    hold regardless of corpus size). Vectors are L2-normalized *before*
    quantization, so inner product == cosine."""
    return _build(base, vec_col, id_col, "sq8", n_lists, seed, max_iter,
                  train_sample)


def build_bin_ivf(base: DataFrame, vec_col: str, id_col: str,
                  n_lists: int = 16, seed: int = 7, max_iter: int = 10,
                  train_sample: int = 20_000) -> IvfModel:
    """BIN_IVF_FLAT: inverted lists over 1-bit sign-packed vectors.

    binary_rerank_search's coarse phase is a *full* packed scan (32× fewer
    bytes, but every row); the coarse quantizer cuts the hamming phase to
    nprobe/n_lists of the packed bytes — at 100 TB the difference between
    ~3 TB and ~3·nprobe/n_lists TB per probe."""
    return _build(base, vec_col, id_col, "bin", n_lists, seed, max_iter,
                  train_sample)


def _sidecar_path(path: str) -> str:
    return path.rstrip("/") + "_centroids"


def write_ivf(model: IvfModel, path: str) -> None:
    """Persist the lists partitioned by centroid_id → probing becomes
    partition pruning on the read path, and a quantized encoding keeps its
    1-byte or 1-bit layout on disk. A one-row sidecar beside the data
    (``<path>_centroids``: encoding, k×dim centroids, SQ8 bounds — tiny)
    makes the layout self-contained: append/read need no in-session model.

    The write repartitions on centroid_id first: without it every input
    task emits one file per list it touches (tasks × n_lists small files
    — at cluster scale, thousands of tasks × hundreds of lists is a
    small-files catastrophe); clustered, each list is one file per
    shuffle partition that owns it."""
    model.assigned.repartition(F.col("centroid_id")) \
        .write.mode("overwrite") \
        .partitionBy("centroid_id").parquet(path)
    model.assigned.sparkSession.createDataFrame(
        [(model.encoding, model.centroids, model.vmin, model.inv_scale)],
        "encoding string, centroids array<array<double>>, "
        "vmin array<double>, inv_scale array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_sidecar_path(path))


def _read_sidecar(spark, path: str):
    return spark.read.parquet(_sidecar_path(path)).first()


def read_ivf(spark, path: str, vec_col: str, id_col: str,
             base: DataFrame | None = None) -> IvfModel:
    """Reopen a layout written by :func:`write_ivf` from its path: the
    sidecar supplies the centroids, the encoding and the SQ8 bounds.
    ``base`` is the float table a quantized layout's exact rescore reads
    (flat lists carry their own vectors)."""
    meta = _read_sidecar(spark, path)
    return IvfModel(spark.read.parquet(path), meta["centroids"], vec_col,
                    id_col, meta["encoding"], base, meta["vmin"],
                    meta["inv_scale"])


def append_ivf(new_rows: DataFrame, path: str, vec_col: str,
               id_col: str) -> None:
    """Index maintenance under continuous ingest: assign a new batch to the
    EXISTING persisted centroids and append its files into the partitioned
    layout. No retrain, no touch of the resident data — cost scales with
    the batch, not the index, which is what keeps a 100-TB IVF fresh while
    a stream ingests (Faiss `add` after `train`, as a parquet append).
    Centroid drift is the trade-off: monitor with :func:`ivf_balance` and
    retrain (build_ivf + write_ivf) when imbalance crosses a threshold.
    Flat layouts only: a quantized layout's rows are encoded, not float."""
    meta = _read_sidecar(new_rows.sparkSession, path)
    if meta["encoding"] != "flat":
        raise ValueError(
            f"append_ivf writes float rows; {path} holds "
            f"{meta['encoding']}-encoded lists. Rebuild and rewrite it.")
    cent = np.asarray(meta["centroids"], dtype=np.float64)
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


def _nearest_lists(qvec: np.ndarray, centroids: list[list[float]],
                   nprobe: int) -> list[int]:
    """Driver-side: nprobe nearest centroids by L2 (tiny)."""
    c = np.asarray(centroids, dtype=float)
    d = ((c - qvec) ** 2).sum(axis=1)
    return [int(i) for i in d.argsort()[:nprobe]]


def _query_vectors(queries: DataFrame) -> list[tuple[int, np.ndarray]]:
    """(query_id, float vector) per query, driver-side — nq is small by
    contract (reference nq ≤ 100)."""
    return [(int(r["query_id"]), np.asarray(r["qvec"], dtype=np.float64))
            for r in queries.collect()]


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


def _query_bits(spark, qv: list[tuple[int, np.ndarray]]) -> DataFrame:
    return spark.createDataFrame(
        [(qid, _pack_query_bits(v.tolist())) for qid, v in qv],
        "query_id int, qbits array<bigint>")


def _rerank(approx: DataFrame, asc: bool, rerank_k: int, k: int,
            base: DataFrame, qv: list[tuple[int, np.ndarray]], vec_col: str,
            id_col: str) -> DataFrame:
    """The exact rescore every quantized tier shares: the top ``rerank_k``
    approximate candidates per query join the float ``base`` by broadcast
    hash join — no shuffle of the base; at scale, a base laid out bucketed
    by id turns that scan into pruned file reads — and rank by exact
    cosine against the float query."""
    from vectordb_testbricks_spark.functions.vector import cosine_sim
    from vectordb_testbricks_spark.operators.search import _ranked

    cand = (_ranked(approx, id_col, asc=asc, k=rerank_k)
            .select("query_id", id_col))
    qdf = approx.sparkSession.createDataFrame(
        [(qid, v.tolist()) for qid, v in qv],
        "query_id int, qvec array<double>")
    rescored = (base.join(F.broadcast(cand), id_col)
                .join(F.broadcast(qdf), "query_id")
                .select("query_id", id_col,
                        cosine_sim(F.col(vec_col), F.col("qvec"))
                        .alias("score")))
    return _ranked(rescored, id_col, asc=False, k=k)


def ivf_search(model: IvfModel, queries: DataFrame, k: int = 10,
               nprobe: int = 8, metric: str = "COSINE",
               rerank_k: int | None = None) -> DataFrame:
    """Restrict each query to its nprobe nearest inverted lists (a broadcast
    join on centroid_id — partition pruning on a persisted layout), then
    rank within them by the list encoding:

      * ``flat``: exact ``metric`` score, same plan shape as knn_search;
      * ``sq8``: approximate IP on the quantized column. Dequantization
        folds into the *query* side: with stored
        q_i = round((x_i - vmin_i)/inv_i) - 128,
        IP(x̂, q⃗) = Σ q_i·(inv_i·q⃗_i) + Σ (vmin_i + 128·inv_i)·q⃗_i — a
        plain dot against a per-query reweighted vector plus a per-query
        constant, both driver-side, so the stored side is the same codegen
        dot product as the float path over 1-byte elements;
      * ``bin``: packed hamming (popcount(xor)), ascending. With
        metric="HAMMING" (the canonical BIN_IVF_FLAT pairing for binary
        vectors) that is the declared distance and the result.

    sq8/bin (COSINE) then exact-rescore the top ``rerank_k`` candidates
    (:func:`_rerank`). Quantized lists trained on normalized vectors, so
    their queries are normalized before the centroid distance."""
    from vectordb_testbricks_spark.functions.vector import dot, hamming_packed
    from vectordb_testbricks_spark.operators.search import _ranked, knn_score

    spark, enc, id_col = queries.sparkSession, model.encoding, model.id_col
    qv = _query_vectors(queries)
    qn = qv if enc == "flat" else [
        (qid, v / max(float(np.linalg.norm(v)), 1e-30)) for qid, v in qv]
    probe_df = spark.createDataFrame(
        [(qid, c) for qid, v in qn
         for c in _nearest_lists(v, model.centroids, nprobe)],
        "query_id int, centroid_id int")
    pruned = model.assigned.join(F.broadcast(probe_df), "centroid_id")
    if enc == "flat":
        score, asc = knn_score(spark, metric, model.vec_col)
        scored = (pruned.join(F.broadcast(queries.select("query_id", "qvec")),
                              "query_id")
                  .select("query_id", id_col, score.alias("score")))
        return _ranked(scored, id_col, asc, k)
    metric = metric.upper()
    served = ("COSINE", "HAMMING") if enc == "bin" else ("COSINE",)
    if metric not in served:
        raise ValueError(f"{enc} IVF lists serve {' or '.join(served)}; "
                         f"got metric={metric!r}")
    if enc == "sq8":
        vmin, inv = np.asarray(model.vmin), np.asarray(model.inv_scale)
        qdf = spark.createDataFrame(
            [(qid, (inv * v).tolist(), float(((vmin + 128.0 * inv) * v).sum()))
             for qid, v in qn], "query_id int, w array<double>, c double")
        approx_score, asc = dot(F.col("_q8"), F.col("w")) + F.col("c"), False
        rerank_k = rerank_k or max(4 * k, 32)
    else:
        qdf = _query_bits(spark, qv)
        approx_score = hamming_packed(F.col("_bits"), F.col("qbits"))
        asc, rerank_k = True, rerank_k or max(8 * k, 64)
    approx = (pruned.join(F.broadcast(qdf), "query_id")
              .select("query_id", id_col, approx_score.alias("score")))
    if metric == "HAMMING":
        return _ranked(approx, id_col, asc=True, k=k)
    if model.base is None:
        raise ValueError("a quantized IVF layout rescores on its float base "
                         "table: pass base= to read_ivf")
    return _rerank(approx, asc, rerank_k, k, model.base, qv, model.vec_col,
                   id_col)


def binary_rerank_search(base: DataFrame, queries: DataFrame, vec_col: str,
                         id_col: str, k: int = 10,
                         rerank_k: int | None = None,
                         metric: str = "COSINE") -> DataFrame:
    """1-bit quantized search with exact rescore — the IVF_RABITQ /
    BIN_IVF_FLAT analogue without a coarse quantizer (reference index
    vocabulary 2.6/common.py:882-898; RaBitQ brick mc_create_rabitq_mmap.py).

    Candidate generation scans sign-bit-packed vectors (32× smaller than
    float32 — at 100 TB the candidate scan reads ~3 TB) ranked by packed
    hamming distance (popcount(xor), 64 dims per integer op), then the top
    ``rerank_k`` candidates get the IVF tiers' exact rescore. Monotone
    cosine ↔ hamming correlation on normalized data makes sign-bit hamming
    a sound coarse ranker; the rescore restores exact ordering within the
    candidate set.
    """
    from vectordb_testbricks_spark.functions.vector import (
        hamming_packed, pack_sign_bits)
    from vectordb_testbricks_spark.operators.search import _ranked

    qv = _query_vectors(queries)
    packed = base.select(id_col, pack_sign_bits(F.col(vec_col)).alias("_bits"))
    approx = (packed.crossJoin(F.broadcast(_query_bits(queries.sparkSession,
                                                       qv)))
              .select("query_id", id_col,
                      hamming_packed(F.col("_bits"), F.col("qbits"))
                      .alias("score")))
    if metric.upper() == "HAMMING":
        # binary-vector semantics: hamming IS the declared distance
        return _ranked(approx, id_col, asc=True, k=k)
    return _rerank(approx, True, rerank_k or max(8 * k, 64), k, base, qv,
                   vec_col, id_col)


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
class AnnIndex:
    """A declared IndexSpec realized as a physical ANN structure + default
    search params — the engine-side twin of the reference's
    (index_type, params) vocabulary (2.6/common.py:882-898)."""
    kind: str                       # flat | ivf | sparse_inv
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
            return ivf_search(self.model, queries, k=k, nprobe=p["nprobe"],
                              metric=self.metric, rerank_k=p.get("rerank_k"))
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


# declared IVF-family index type → the build of its list encoding.
# IVF_RABITQ's 1-bit quantization serves through the nprobe-pruned bin
# lists — the scale-safe binary default: the coarse phase reads
# nprobe/n_lists of the (already 32× compressed) packed bits instead of
# all of them. binary_rerank_search's full coarse scan stays available
# as the explicit full-corpus rescore primitive only.
_IVF_BUILDS = {"IVF_FLAT": build_ivf, "AUTOINDEX": build_ivf,
               "IVF_SQ8": build_ivf_sq8, "BIN_IVF_FLAT": build_bin_ivf,
               "IVF_RABITQ": build_bin_ivf}


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
    if t in _IVF_BUILDS:
        n_lists = int(params.get("nlist", 64))
        model = _IVF_BUILDS[t](base, vec_col, id_col, n_lists=n_lists,
                               seed=seed)
        return AnnIndex("ivf", model, base, vec_col, id_col, metric,
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
