"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, computed with numpy on the
client side: the engine only ever receives the generated rows, and the
output checks compare against the same rows.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

DIM = 32              # dense vector width
VOCAB = 5_000         # BM25 text vocabulary of the serving collection
WORDS = 20            # words per text field / corpus document
COLLECTION_ROWS = 10_000

CORPUS_DOCS = 10_000
CORPUS_VOCAB = 50_000
CORPUS_COPY_FRAC = 0.10

# request classes in the order one client sends them: every block of 20
# holds 10 kNN, 4 hybrid, 3 count and 3 pk reads (50/20/15/15), and the
# interleave keeps any prefix of the block close to that mix, so a run that
# ends mid-block still measures the same mix
CLASS_ORDER = ("knn", "hybrid", "knn", "count", "knn", "pk", "knn",
               "hybrid", "knn", "count", "knn", "pk", "knn", "hybrid",
               "knn", "count", "knn", "pk", "knn", "hybrid")

COLLECTION_SCHEMA = ("pk long, category long, varchar_1 string, "
                     "json_1 string, embedding array<float>, text string")
FIELDS = ("pk", "category", "varchar_1", "json_1", "embedding", "text")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def collection_rows(rng: np.random.Generator, pks: np.ndarray
                    ) -> pd.DataFrame:
    """Rows for ``pks``: scalar fields follow the package's datagen
    conventions (category = pk % 1024, ``varchar_<pk>``, a JSON object
    with pk / bucket / checksum), so the expression corpus of
    ``workload.expression_corpus`` selects meaningful subsets; vectors and
    texts are drawn from ``rng``."""
    pks = np.asarray(pks, dtype=np.int64)
    words = rng.integers(0, VOCAB, (len(pks), WORDS))
    return pd.DataFrame({
        "pk": pks,
        "category": pks % 1024,
        "varchar_1": [f"varchar_{p}" for p in pks],
        "json_1": [f'{{"pk": {p}, "bucket": {p % 16}, '
                   f'"checksum": "json_{p}"}}' for p in pks],
        "embedding": list(unit_vectors(rng, len(pks))),
        "text": [" ".join(f"w{w}" for w in row) for row in words],
    })


def initial_rows(seed: int) -> pd.DataFrame:
    return collection_rows(_rng(seed, 1), np.arange(COLLECTION_ROWS))


@dataclass(frozen=True)
class Request:
    kind: str                    # one of CLASS_ORDER's classes
    qvec: list[float] | None     # knn / hybrid
    flt: str | None              # knn / count
    text: str | None             # hybrid BM25 query
    pks: list[int] | None        # pk


def request(seed: int, index: int, exprs: list[str], max_pk: int,
            stream: int = 3) -> Request:
    """Request ``index`` of a client: the class comes from CLASS_ORDER,
    the vector, filter, query text and pks are drawn from (seed, index)."""
    kind = CLASS_ORDER[index % len(CLASS_ORDER)]
    rng = _rng(seed, stream, index)
    qvec = flt = text = pks = None
    if kind in ("knn", "hybrid"):
        qvec = [float(x) for x in rng.standard_normal(DIM)]
    if kind in ("knn", "count"):
        flt = exprs[int(rng.integers(0, len(exprs)))]
    if kind == "hybrid":
        text = " ".join(f"w{w}" for w in rng.integers(0, VOCAB, 3))
    if kind == "pk":
        pks = sorted(int(p) for p in rng.choice(max_pk, 10, replace=False))
    return Request(kind, qvec, flt, text, pks)


@dataclass(frozen=True)
class Corpus:
    docs: pd.DataFrame               # doc_id, text
    groups: dict[int, list[int]]     # canonical id -> sorted member ids

    def dup_pairs(self) -> set[tuple[int, int]]:
        return {(a, b) for ids in self.groups.values()
                for i, a in enumerate(ids) for b in ids[i + 1:]}


def corpus(seed: int, n: int = CORPUS_DOCS) -> Corpus:
    """``n`` documents of WORDS words over a CORPUS_VOCAB vocabulary; the
    last CORPUS_COPY_FRAC of them are exact copies of earlier originals
    (an original can be copied more than once)."""
    rng = _rng(seed, 4)
    words = rng.integers(0, CORPUS_VOCAB, (n, WORDS))
    n_copies = int(n * CORPUS_COPY_FRAC)
    n_orig = n - n_copies
    src = rng.integers(0, n_orig, n_copies)
    words[n_orig:] = words[src]
    groups: dict[int, list[int]] = {}
    for j, s in enumerate(src):
        groups.setdefault(int(s), [int(s)]).append(n_orig + j)
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [" ".join(f"t{w}" for w in row) for row in words]})
    return Corpus(docs, groups)
