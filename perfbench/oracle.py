"""Expected results for the output checks, computed outside Spark.

Filters are evaluated in DuckDB through ``exprlang.sqlgen.to_sql``; dense
scores are an exact numpy cosine; BM25 scores come from the DuckDB scoring
SQL of the ``v_bm25`` oracle. Rankings break ties by ascending pk, as the
engine does, and a returned top-k is accepted when it equals the expected
one or differs only by swaps among equal scores.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from vectordb_testbricks_spark.exprlang import parse
from vectordb_testbricks_spark.exprlang.sqlgen import to_sql

K = 10
RRF_K = 60
SCORE_TOL = 1e-6


def _bm25_sql(text: str) -> str:
    from __spark_entry__ import TOKS_SQL, _sql_bm25_scored
    qterms = ("qterms AS (SELECT unnest("
              f"{TOKS_SQL.format(col=_quote(text))}) AS term)")
    return (f"WITH {_sql_bm25_scored(TOKS_SQL, qterms_cte=qterms)} "
            "SELECT doc_id, score FROM bm25_scored")


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def ranked(ids: np.ndarray, scores: np.ndarray, k: int = K
           ) -> list[tuple[int, float]]:
    """Top-k by descending score, ties by ascending id."""
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


def ranking_error(got: list[tuple[int, float]], ids: np.ndarray,
                  scores: np.ndarray, k: int = K) -> str | None:
    """None when ``got`` (id, score) pairs, in rank order, are a correct
    top-k of the candidates ``ids``/``scores``."""
    want = ranked(ids, scores, k)
    if [g[0] for g in got] == [w[0] for w in want]:
        return None
    truth = dict(zip(ids.tolist(), scores.tolist()))
    if len(got) != len(want) or len({g[0] for g in got}) != len(got):
        return f"top-{k} ids {[g[0] for g in got]} != {[w[0] for w in want]}"
    for (gid, _), (_, wscore) in zip(got, want):
        if gid not in truth or abs(truth[gid] - wscore) > SCORE_TOL:
            return (f"top-{k} ids {[g[0] for g in got]} != "
                    f"{[w[0] for w in want]}")
    return None


def rrf(branches: list[list[tuple[int, float]]]
        ) -> tuple[np.ndarray, np.ndarray]:
    """Reciprocal-rank fusion of ranked branches: every fused id with its
    score."""
    fused: dict[int, float] = {}
    for branch in branches:
        for rank, (pk, _) in enumerate(branch, start=1):
            fused[pk] = fused.get(pk, 0.0) + 1.0 / (RRF_K + rank)
    ids = np.array(list(fused), dtype=np.int64)
    return ids, np.array([fused[i] for i in ids.tolist()])


class Oracle:
    """Expected answers over one collection state (a pandas frame with the
    benchmark's collection columns)."""

    def __init__(self, state: pd.DataFrame):
        self.pk = state.pk.to_numpy(dtype=np.int64)
        emb = np.stack(state.embedding.to_numpy()).astype(np.float64)
        self.unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        self.con = duckdb.connect()
        self.con.register("state", state.drop(columns=["embedding"]))
        self.con.execute("CREATE VIEW documents AS "
                         "SELECT pk AS doc_id, text FROM state")
        self.columns = set(state.columns)

    def close(self) -> None:
        self.con.close()

    def where(self, flt: str) -> str:
        return to_sql(parse(flt), columns=self.columns,
                      json_columns={"json_1"})

    def dense(self, qvec: list[float], flt: str | None
              ) -> tuple[np.ndarray, np.ndarray]:
        q = np.asarray(qvec, dtype=np.float64)
        scores = self.unit @ (q / np.linalg.norm(q))
        if flt is None:
            return self.pk, scores
        keep = self.con.execute(
            f"SELECT pk FROM state WHERE {self.where(flt)}").fetchnumpy()
        mask = np.isin(self.pk, keep["pk"])
        return self.pk[mask], scores[mask]

    def bm25(self, text: str) -> tuple[np.ndarray, np.ndarray]:
        r = self.con.execute(_bm25_sql(text)).fetchnumpy()
        return (np.asarray(r["doc_id"], dtype=np.int64),
                np.asarray(r["score"], dtype=np.float64))

    def count(self, flt: str) -> int:
        return int(self.con.execute(
            f"SELECT count(*) FROM state WHERE {self.where(flt)}"
        ).fetchone()[0])

    def live(self, pks: list[int]) -> list[int]:
        return sorted(set(pks) & set(self.pk.tolist()))


def request_error(req, got, oracle: Oracle) -> str | None:
    """Check one reader request's collected result against ``oracle``.
    ``got`` is what the request returned: ranked (pk, score) pairs for
    knn / hybrid, the count for count, sorted (pk, category) for pk."""
    if req.kind == "knn":
        return ranking_error(got, *oracle.dense(req.qvec, req.flt))
    if req.kind == "hybrid":
        return ranking_error(got, *rrf([
            ranked(*oracle.dense(req.qvec, None)),
            ranked(*oracle.bm25(req.text))]))
    if req.kind == "count":
        want = oracle.count(req.flt)
        return None if got == want else f"count {got} != {want}"
    if req.kind == "pk":
        want = oracle.live(req.pks)
        if [p for p, _ in got] != want:
            return f"pk rows {[p for p, _ in got]} != {want}"
        bad = [p for p, c in got if c != p % 1024]
        return f"pk rows with wrong category: {bad}" if bad else None
    raise ValueError(f"unknown request kind {req.kind!r}")
