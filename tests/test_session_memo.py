"""Session memo (vectordb_testbricks_spark.session.session_memo): every
session-cached driver entry serves its second call without a rebuild, and
no module keeps a hand-rolled cache dict beside it."""

from __future__ import annotations

import ast
import pathlib

import pytest

import __spark_entry__ as E
from vectordb_testbricks_spark.session import memo_stats

from tests.conftest import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent

#: driver entries that reach a session_memo slot: index/table builds,
#: the prepared kNN pool, manager warehouses (v_bm25_modes via
#: _bm25_managed_collection, part_route_modes via
#: _partition_lifecycle_manager) and the code-order n-gram posting memo
#: (dd_ngram_jaccard's 'code' mode)
CACHED_ENTRIES = [
    "q_like_ngram", "v_knn_prefilter", "v_bm25", "v_sparse_dot",
    "v_bm25_modes", "part_route_modes", "v_ivf_cosine", "v_ivf_persisted",
    "v_bin_ivf", "v_ivf_sq8", "dd_ngram_jaccard",
]

#: process-wide parquet-footer memo, not session state
ALLOWED_MODULE_CACHES = {"_NANO_COLS_CACHE"}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _delta(after, before, field):
    return {tag: st[field] - before.get(tag, {}).get(field, 0)
            for tag, st in after.items()
            if st[field] != before.get(tag, {}).get(field, 0)}


@pytest.mark.parametrize("name", CACHED_ENTRIES)
def test_second_call_builds_nothing(spark, name):
    fn = getattr(E, name)
    first = _rows(fn(spark, SF_DIR))
    before = memo_stats()
    second = _rows(fn(spark, SF_DIR))
    after = memo_stats()
    assert _delta(after, before, "builds") == {}
    assert _delta(after, before, "hits"), "entry never reached the memo"
    assert second == first


def _module_caches(path: pathlib.Path) -> list[str]:
    """Module-level ``*_CACHE`` / ``*_MEMO`` names bound to a dict."""
    def is_dict(v):
        if isinstance(v, (ast.Dict, ast.DictComp)):
            return True
        return (isinstance(v, ast.Call)
                and getattr(v.func, "id", getattr(v.func, "attr", None))
                in ("dict", "defaultdict", "OrderedDict"))

    found = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets = [node.target]
        else:
            continue
        for t in targets:
            if (isinstance(t, ast.Name) and t.id.endswith(("_CACHE", "_MEMO"))
                    and t.id not in ALLOWED_MODULE_CACHES
                    and is_dict(node.value)):
                found.append(f"{path.relative_to(REPO)}:{node.lineno} {t.id}")
    return found


def test_no_hand_rolled_session_caches():
    """Session state lives in session.py's one table, evicted by one
    rule; a module-level cache dict elsewhere would need its own."""
    pkg = REPO / "vectordb_testbricks_spark"
    files = [REPO / "__spark_entry__.py"] + sorted(pkg.rglob("*.py"))
    offenders = [hit for f in files if f != pkg / "session.py"
                 for hit in _module_caches(f)]
    assert offenders == [], (
        "module-level cache dicts outside session.py (use session_memo): "
        + ", ".join(offenders))


def test_bench_counts_memo_builds(spark):
    """bench.py's memo_rebuilds evidence counts builds per slot tag."""
    import bench
    from vectordb_testbricks_spark.session import forget, session_memo
    probe = ("bench_probe", object())
    n0 = bench._memo_builds()
    session_memo(spark, probe, lambda: 1)
    session_memo(spark, probe, lambda: 2)
    after = bench._memo_builds()
    assert after.pop("bench_probe") == n0.pop("bench_probe", 0) + 1
    assert after == n0
    forget(lambda slot, v: slot == probe)


def test_concurrent_callers_share_one_value(spark):
    """Threads racing on one slot all get the first stored value, and no
    hit or build count is lost."""
    import sys
    import threading
    from vectordb_testbricks_spark.session import forget, session_memo
    slot = ("race_probe", object())
    n_threads, n_calls = 16, 50
    got, errors = [], []

    def worker():
        try:
            for _ in range(n_calls):
                got.append(session_memo(spark, slot, object))
        except Exception as e:                          # noqa: BLE001
            errors.append(e)

    before = memo_stats().get("race_probe", {"builds": 0, "hits": 0})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
        forget(lambda s, v: s == slot)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(got) == n_threads * n_calls
    assert all(v is got[0] for v in got)
    st = memo_stats()["race_probe"]
    assert (st["builds"] - before["builds"] + st["hits"] - before["hits"]
            == n_threads * n_calls)
