"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_plain():
    for name in [*run.END_TO_END, *run.PER_LAYER, *run.WORKLOADS]:
        assert NAME.fullmatch(name), name
        assert len(name) <= 64


def test_benchmark_json_matches_what_the_command_prints():
    spec = _benchmark_json()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_no_p90_without_ten_samples_beyond_it():
    for n in (0, 1, 50, 99):
        s = tracing.summary([float(i) for i in range(n)], "ms")
        assert "p90" not in s and s["n"] == n
    s = tracing.summary([float(i) for i in range(100)], "ms")
    assert s["n"] == 100
    assert sum(1 for i in range(100) if i > s["p90"]) >= 10


def test_inputs_repeat_for_a_seed():
    a, b = gen.initial_rows(7), gen.initial_rows(7)
    assert a.drop(columns="embedding").equals(b.drop(columns="embedding"))
    assert np.array_equal(np.stack(a.embedding), np.stack(b.embedding))
    assert not gen.initial_rows(8).text.equals(a.text)
    exprs = ["category == 1"]
    assert gen.request(7, 3, exprs, 100) == gen.request(7, 3, exprs, 100)
    c = gen.corpus(7, 1000)
    assert c.docs.equals(gen.corpus(7, 1000).docs)
    for canon, ids in c.groups.items():
        assert len(set(c.docs.text[ids])) == 1 and canon == min(ids)


def test_request_mix_is_50_20_15_15():
    kinds = [gen.request(1, i, ["category == 1"], 100).kind
             for i in range(len(gen.CLASS_ORDER))]
    assert {k: kinds.count(k) for k in set(kinds)} == \
        {"knn": 10, "hybrid": 4, "count": 3, "pk": 3}


@pytest.fixture(scope="module")
def small():
    state = gen.collection_rows(np.random.default_rng(0), np.arange(300))
    orc = oracle.Oracle(state)
    yield orc
    orc.close()


def _right_answer(req, orc):
    if req.kind == "knn":
        return oracle.ranked(*orc.dense(req.qvec, req.flt))
    if req.kind == "hybrid":
        return oracle.ranked(*oracle.rrf([
            oracle.ranked(*orc.dense(req.qvec, None)),
            oracle.ranked(*orc.bm25(req.text))]))
    if req.kind == "count":
        return orc.count(req.flt)
    return [(p, p % 1024) for p in orc.live(req.pks)]


def test_output_check_accepts_right_and_rejects_wrong_results(small):
    exprs = ["category >= 100", 'varchar_1 like "%7"',
             'json_1["bucket"] in [1, 2, 3]']
    for i in range(len(gen.CLASS_ORDER)):
        req = gen.request(5, i, exprs, 400)
        got = _right_answer(req, small)
        assert oracle.request_error(req, got, small) is None, req
        if req.kind in ("knn", "hybrid"):
            wrong = [(got[0][0] + 1000, got[0][1])] + got[1:]
        elif req.kind == "count":
            wrong = got + 1
        else:
            wrong = got[:-1] if got else [(1, 2)]
        assert oracle.request_error(req, wrong, small) is not None, req


def test_ranking_check_allows_only_tie_swaps():
    ids = np.array([5, 3, 9, 1])
    scores = np.array([0.9, 0.5, 0.5, 0.1])
    assert oracle.ranked(ids, scores, 3) == [(5, 0.9), (3, 0.5), (9, 0.5)]
    assert oracle.ranking_error([(5, 0.9), (9, 0.5), (3, 0.5)],
                                ids, scores, 3) is None
    assert oracle.ranking_error([(5, 0.9), (3, 0.5), (1, 0.1)],
                                ids, scores, 3) is not None


def test_filters_match_the_engine_language(small):
    # the DuckDB lowering of filters agrees with the generator's
    # definition of the scalar fields (category = pk % 1024, bucket = pk % 16)
    n = small.count("category >= 100 and category < 200")
    assert n == 100
    assert small.count('json_1["bucket"] == 3') == \
        sum(1 for p in range(300) if p % 16 == 3)


def test_union_and_self_time():
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    t = tracing.Tracer(True)
    with t.span("root", trace="r0"):
        with t.span("child"):
            pass
    root = t.by_name("root")[0]
    child = t.by_name("child")[0]
    assert child.parent == root.span_id and child.trace == "r0"
    assert 0 <= t.self_seconds()[root.span_id] <= root.seconds
    off = tracing.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
