"""Every operator with two size regimes returns identical rows in both.

The regime is read from the operator input's plan statistics
(``materialize.estimated_rows``); each test forces both shapes on one
fixture input by moving the threshold constant, and checks that the
shape really changed. A guard keeps hand-threaded size hints from
growing back."""

from __future__ import annotations

import ast
import pathlib

import pytest

from pyspark.sql import functions as F

ROOT = pathlib.Path(__file__).resolve().parent.parent

#: the only signatures that may take a corpus size: perfbench's batch
#: pipeline passes it to the two MinHash entry points, and a loaded
#: collection passes its exact folded count to bm25_search_many
N_DOCS_OVERRIDES = {"minhash_lsh_dedup", "lsh_candidate_pairs",
                    "bm25_search_many"}


def _functions():
    files = [*(ROOT / "vectordb_testbricks_spark").rglob("*.py"),
             ROOT / "__spark_entry__.py"]
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
                a = node.args
                yield (f.name, getattr(node, "name", "<lambda>"),
                       {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs})


def test_no_hand_threaded_size_hints():
    fns = list(_functions())
    assert {name for _, name, args in fns if "n_docs" in args} \
        == N_DOCS_OVERRIDES
    assert not [(f, name) for f, name, args in fns if "n_rows" in args]
    assert not {"_docs_count", "_doubled_docs_count"} & {
        name for _, name, _ in fns}


@pytest.fixture
def doubled(tables):
    docs = tables["documents"].df.select("doc_id", "text")
    return docs.unionByName(docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))


def _both_regimes(monkeypatch, run):
    """``run()`` in the small regime, then in the large one (threshold 0,
    memoized posting/blacklist builds dropped in between)."""
    from vectordb_testbricks_spark import materialize
    from vectordb_testbricks_spark.session import forget

    def fresh():
        forget(lambda slot, v: slot[0] in ("posting", "blacklist"))
        return run()

    small = fresh()
    monkeypatch.setattr(materialize, "BARRIER_MIN_ROWS", 0)
    large = fresh()
    forget(lambda slot, v: slot[0] in ("posting", "blacklist"))
    return small, large


def _barrier_spy(monkeypatch):
    from vectordb_testbricks_spark import materialize
    calls = []
    orig = materialize.materialize_barrier

    def spy(df):
        calls.append(df)
        return orig(df)

    monkeypatch.setattr(materialize, "materialize_barrier", spy)
    return calls


def test_simhash_barrier_regimes_identical(doubled, monkeypatch):
    from vectordb_testbricks_spark.operators.dedup import simhash_near_dups
    barriers = _barrier_spy(monkeypatch)
    seen = []

    def run():
        rows = sorted(map(tuple, simhash_near_dups(
            doubled, "doc_id", "text", max_hamming=3, bits=64).collect()))
        seen.append(len(barriers))
        return rows

    small, large = _both_regimes(monkeypatch, run)
    assert seen == [0, 1]
    assert small == large and small


@pytest.mark.parametrize("order", ["rarity", "code"])
def test_ngram_barrier_regimes_identical(doubled, monkeypatch, order):
    from vectordb_testbricks_spark.operators.dedup import ngram_jaccard_pairs
    barriers = _barrier_spy(monkeypatch)
    seen = []

    def run():
        rows = sorted((r.id_a, r.id_b, round(r.jaccard, 9))
                      for r in ngram_jaccard_pairs(
                          doubled, "doc_id", "text", n=3, threshold=0.7,
                          order=order).collect())
        seen.append(len(barriers))
        return rows

    small, large = _both_regimes(monkeypatch, run)
    assert seen[0] == 0 and seen[1] >= 1
    assert small == large and small


def test_lsh_emit_regimes_identical(doubled, monkeypatch):
    from vectordb_testbricks_spark.operators.dedup import minhash_lsh_dedup

    def run():
        out = minhash_lsh_dedup(doubled, "doc_id", "text", threshold=0.7)
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = sorted((r.id_a, r.id_b, round(r.jaccard, 9))
                      for r in out.collect())
        return rows, "Join [key#" in plan

    (small, small_join), (large, large_join) = _both_regimes(monkeypatch, run)
    assert (small_join, large_join) == (False, True)
    assert small == large and small


def test_pigeonhole_blacklist_regimes_identical(doubled, monkeypatch):
    from vectordb_testbricks_spark.materialize import shared_persist
    from vectordb_testbricks_spark.operators import arrow_kernels, dedup
    heavy = []
    orig = arrow_kernels.local_heavy_codes_arrow

    def spy(codes, min_local):
        heavy.append(min_local)
        return orig(codes, min_local)

    monkeypatch.setattr(arrow_kernels, "local_heavy_codes_arrow", spy)
    # one partition: the pigeonhole pass needs partitions <= max_df
    codes = shared_persist(dedup._token_codes(doubled.coalesce(1), "doc_id",
                                              "text", 3))
    try:
        def run():
            # max_df=2: each doc and its copy post a code twice, so a
            # code shared with any third doc is blacklisted
            return sorted(map(tuple, dedup._code_order_postings(
                codes, "doc_id", 0.7, 2).collect()))

        small, large = _both_regimes(monkeypatch, run)
    finally:
        codes.unpersist()
    assert len(heavy) == 1                      # pigeonhole: large only
    assert small == large and small


def test_bm25_exchange_regimes_identical(tables, monkeypatch):
    from vectordb_testbricks_spark.operators import bm25
    docs = tables["documents"].df
    texts = ["spark query join", "hash join merge sort", "stream window"]

    def run():
        out = bm25.bm25_search_many(docs, texts, "doc_id", "text", k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return (sorted(map(tuple, out.collect())),
                plan.count("Exchange hashpartitioning"))

    bounded, n_bounded = run()
    monkeypatch.setattr(bm25, "BOUNDED_ONE_EXCHANGE_MAX", 0)
    classic, n_classic = run()
    assert n_bounded == n_classic - 1
    assert bounded == classic and bounded
