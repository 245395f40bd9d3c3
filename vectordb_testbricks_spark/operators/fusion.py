"""Hybrid multi-branch search fusion (SURVEY.md §2.4 V3/V4/V8).

Reference semantics: N AnnSearchRequests (one per vector field, each with its
own filter/limit) fused by a ranker —
  * RRFRanker: score(d) = Σ_branches 1/(rrf_k + rank_b(d))
    (search_permanently.py:146-155,195-223; default rrf_k = 60)
  * WeightedRanker: score(d) = Σ_b w_b · normalized_score_b(d)
    (search_horizon_perf.go:455-461, weights e.g. [0.6, 0.4]);
    Milvus squashes each branch score with 0.5 + atan(score)/pi —
    available as ``normalize="arctan"``; min-max per (branch, query)
    remains as an alternative deterministic mode
  * dense + BM25 multi-modal fusion (tpuffer/hybrid_search.go:416-441)

Spark plan: each branch is an independent top-limit ranked DataFrame
(query_id, id, score, rank); fusion is a unionByName + groupBy(query_id, id)
aggregate + re-rank window — a pure reduce over nq×Σlimit_b rows, tiny at any
scale, so it runs in one partition with no exchange, for one query or a
batch.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60


def _fuse_sum(u: DataFrame, id_col: str) -> DataFrame:
    """``SUM(part)`` per (query_id, id) over the union'd branch parts,
    read in ONE partition (``coalesce(1)``): a single partition satisfies
    both the aggregate's clustered distribution on (query_id, id) and the
    re-rank window's on (query_id), so neither needs an exchange — at any
    nq, and a one-query request's branches already end in one partition.
    Losing parallelism is free here BY CONSTRUCTION: the input is the
    union of ranked branch results, bounded at nq × Σ per-branch limits
    rows at any corpus scale — it is never a wide stream. The coalesce
    is narrow, so the branches' own stages before their exchanges or
    take-ordered merges keep their parallelism."""
    return (u.coalesce(1)
            .groupBy("query_id", id_col).agg(F.sum("part").alias("score")))


def _rerank(scored: DataFrame, id_col: str, k: int,
            offset: int = 0) -> DataFrame:
    """Fused re-rank with Milvus offset semantics (issue_45203.py:89-137:
    RRFRanker + offset): skip the first ``offset`` fused ranks, return the
    next ``k``; ``rank`` stays the absolute fused rank."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > offset) & (F.col("rank") <= offset + k)))


def rrf_fuse(branches: list[DataFrame], id_col: str, k: int = 10,
             rrf_k: int = RRF_K, offset: int = 0) -> DataFrame:
    """V3: reciprocal-rank fusion over ranked branch results.

    Each branch must carry (query_id, <id_col>, rank). Returns
    (query_id, <id_col>, score, rank) with fused rank 1..k.
    """
    parts = [b.select("query_id", id_col,
                      (1.0 / (F.lit(rrf_k) + F.col("rank"))).alias("part"))
             for b in branches]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _rerank(_fuse_sum(u, id_col), id_col, k, offset)


def weighted_fuse(branches: list[DataFrame], weights: list[float],
                  id_col: str, k: int = 10,
                  normalize: bool | str = True, offset: int = 0) -> DataFrame:
    """V4: weighted-sum fusion. ``normalize`` picks the per-branch squash:

    * ``True`` / ``"minmax"`` — min-max per (branch, query) to [0, 1]
      (deterministic, distribution-dependent)
    * ``"arctan"`` — Milvus WeightedRanker normalization
      ``0.5 + atan(score)/pi`` (the squash applied by the reranker the
      go_bench WeightedReranker([0.6, 0.4]) call hits,
      search_horizon_perf.go:455-461): row-local, maps any real score
      into (0, 1), preserves order, needs no per-query statistics
    * ``False`` — raw scores

    Higher = better; pass ascending-metric branches through
    ``invert_scores`` first."""
    assert len(branches) == len(weights)
    parts = []
    for b, w in zip(branches, weights):
        if normalize == "arctan":
            b = b.withColumn(
                "score",
                F.lit(0.5) + F.atan(F.col("score").cast("double"))
                / F.lit(math.pi))
        elif normalize:
            win = Window.partitionBy("query_id")
            mn, mx = F.min("score").over(win), F.max("score").over(win)
            norm = F.when(mx != mn, (F.col("score") - mn) / (mx - mn)) \
                .otherwise(F.lit(1.0))
            b = b.withColumn("score", norm)
        parts.append(b.select("query_id", id_col,
                              (F.col("score") * F.lit(float(w))).alias("part")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _rerank(_fuse_sum(u, id_col), id_col, k, offset)


def invert_scores(branch: DataFrame) -> DataFrame:
    """Turn an ascending metric (L2/HAMMING: lower = better) into a
    descending similarity for weighted fusion."""
    return branch.withColumn("score", -F.col("score"))
