"""Bench artifact-contract unit tests (no Spark session needed).

The driver's tail capture parses the FINAL stdout line of bench.py and
records parsed:null if it exceeds ~2 KB or isn't JSON — round 5 lost its
headline number exactly this way. These tests pin the shared
_emit_final/_write_detail helpers both the single-draw and draws modes
now go through (r08 review #6: a diverging copy let one mode overflow
what the other guarded)."""

from __future__ import annotations

import json
import re

import bench


def _capture_lines(capsys) -> list[str]:
    return [ln for ln in capsys.readouterr().out.splitlines() if ln]


def test_emit_final_is_compact_json(capsys):
    out = {"metric": "headline_queries_total_wall_clock", "value": 1.5,
           "unit": "sec", "queries": {"q1": 0.5, "q2": 1.0}, "sf": 0.01,
           "tests_green": True, "tests_summary": "ok"}
    bench._emit_final(dict(out))
    line = _capture_lines(capsys)[-1]
    assert len(line) < 2000
    parsed = json.loads(line)
    assert parsed["value"] == 1.5 and parsed["queries"] == out["queries"]


def test_emit_final_trims_oversized_payload(capsys):
    # a per-query map too large for the tail window: the helper must
    # drop it (keeping the headline total) rather than overflow
    queries = {f"q_{i:04d}_with_a_rather_long_name": i / 7.0
               for i in range(200)}
    bench._emit_final({"metric": "m", "value": 2.25, "unit": "sec",
                       "queries": queries,
                       "tests_summary": "x" * 5000})
    line = _capture_lines(capsys)[-1]
    assert len(line) < 2000
    parsed = json.loads(line)
    assert parsed["value"] == 2.25
    assert "queries" not in parsed and "queries_note" in parsed
    # free-text field is truncated FIRST (before the map is dropped)
    assert len(parsed["tests_summary"]) <= 120


def test_emit_final_trims_summary_before_queries(capsys):
    # a long suite summary alone must not evict the per-query map
    bench._emit_final({"metric": "m", "value": 1.0, "unit": "sec",
                       "queries": {"q1": 0.1},
                       "tests_summary": "y" * 5000})
    parsed = json.loads(_capture_lines(capsys)[-1])
    assert parsed["queries"] == {"q1": 0.1}
    assert len(parsed["tests_summary"]) <= 120


def test_write_detail_roundtrip(tmp_path, monkeypatch, capsys):
    detail = {"kind": "bench_detail", "total_sec": 3.5,
              "scale": {"e1": {"warm_sec": 1.0}}}
    p = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(p))
    bench._write_detail(detail)
    # durable side file AND an earlier stdout JSON line carry the blob,
    # stamped with the commit it measured and the tracked-files state
    rec = json.loads(p.read_text())
    assert json.loads(_capture_lines(capsys)[-1]) == rec
    commit, dirty = rec.pop("commit"), rec.pop("dirty")
    assert rec == detail
    assert commit is None or re.fullmatch(r"[0-9a-f]{40}", commit)
    assert isinstance(dirty, bool)


def test_write_detail_survives_unwritable_path(tmp_path, monkeypatch,
                                               capsys):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL",
                       str(tmp_path / "no_such_dir" / "detail.json"))
    bench._write_detail({"kind": "bench_detail"})  # must not raise
    lines = _capture_lines(capsys)
    # the stdout evidence line still prints after the warning
    assert json.loads(lines[-1])["kind"] == "bench_detail"


def test_headline_names_resolve():
    """Every HEADLINE entry must resolve to a callable — either a
    module-level per-variant function or a registry entry — so a
    renamed query fails here instead of mid-bench after the gate."""
    import __spark_entry__ as entrymod
    registry = entrymod.queries()
    for name in bench.HEADLINE:
        fn = getattr(entrymod, name, None) or registry.get(name)
        assert callable(fn), f"HEADLINE entry {name!r} does not resolve"


def test_stretch_disk_preflight():
    """The gated 100M stretch entries must skip loudly below their
    measured scratch-disk need (the dd_ngram_100m attempt filled the
    box to 92% before being killed — an unattended evidence run doing
    that would take every other artifact down with it), and pass
    through untouched entries and sufficient-disk cases."""
    # unknown entries (the 10M decades) never preflight
    assert bench._stretch_disk_shortfall("dd_ngram_10m", free_gb=1.0) is None
    # below need -> a reason naming both numbers
    reason = bench._stretch_disk_shortfall("dd_ngram_100m", free_gb=50.0)
    assert reason and "50 GB free" in reason and "75 GB" in reason
    # at/above need -> run
    assert bench._stretch_disk_shortfall("dd_minhash_100m",
                                         free_gb=45.0) is None
    # every gated 100M entry carries a measured figure
    assert set(bench.STRETCH_DISK_NEED_GB) == {
        "dd_minhash_100m", "v_sparse_100m", "dd_ngram_100m"}


def test_red_gate_refusal_names_failing_tests(monkeypatch, capsys):
    """Judge r11 task 2: when the green-suite gate refuses to bench, the
    refusal JSON must name the failing tests — r11's red gate erased the
    round's bench artifact and the culprit was only identifiable by
    reproducing the failure under synthetic load. The gate runs pytest
    with -rf and copies the FAILED lines (bounded) into the error line,
    which must still fit the driver's ~2 KB tail-capture window."""
    import subprocess

    failed = [f"FAILED tests/test_workload.py::test_case_{i:03d}"
              f" - AssertionError: something rather long {i}"
              for i in range(40)]
    stdout = "\n".join(["collected 374 items", *failed,
                        "1 failed, 373 passed in 600.00s"])

    class FakeProc:
        returncode = 1
        stderr = ""

    FakeProc.stdout = stdout

    def fake_run(cmd, **kw):
        assert "-rf" in cmd          # failing-test names requested
        return FakeProc()

    monkeypatch.delenv("SPARK_GRAFT_BENCH_REQUIRE_GREEN", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_GATE_SHARDS", "1")  # single-process path
    monkeypatch.setattr(subprocess, "run", fake_run)
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        bench._require_green_suite()
    line = [ln for ln in capsys.readouterr().out.splitlines() if ln][-1]
    assert len(line) < 2000
    rec = json.loads(line)
    assert rec["tests_green"] is False
    assert rec["failed_tests"], rec
    assert any("test_case_000" in t for t in rec["failed_tests"])
    assert rec["tests_summary"].startswith("1 failed")


def test_green_gate_passes_through(monkeypatch):
    import subprocess

    class FakeProc:
        returncode = 0
        stdout = "374 passed in 600.00s"
        stderr = ""

    monkeypatch.delenv("SPARK_GRAFT_BENCH_REQUIRE_GREEN", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_GATE_SHARDS", "1")
    def fake_run(cmd, **kw):
        assert "--deselect" not in cmd       # the gate runs every test
        return FakeProc()

    monkeypatch.setattr(subprocess, "run", fake_run)
    out = bench._require_green_suite()
    assert out == {"tests_green": True,
                   "tests_summary": "374 passed in 600.00s"}


def test_sharded_gate_aggregates_and_propagates_failures(monkeypatch):
    """r13 (VERDICT r12 #7): the default gate runs the suite SHARDED —
    same tests, same pass criteria, N concurrent pytest subprocesses.
    The aggregation must sum per-shard counts, carry failing-test names
    into the refusal record, and go red if ANY shard is red."""
    import subprocess
    import sys
    import os
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    import run_suite_sharded as rss

    calls = []

    def fake_run(cmd, **kw):
        calls.append(cmd)
        assert "-rf" in cmd

        class P:
            returncode = 0 if len(calls) > 1 else 1
            stderr = ""
            stdout = ("FAILED tests/test_x.py::test_boom - AssertionError\n"
                      "1 failed, 10 passed in 5.00s"
                      if len(calls) == 1 else "20 passed in 4.00s")
        return P()

    monkeypatch.setattr(subprocess, "run", fake_run)
    res = rss.run_sharded(3, ["--deselect", "x"])
    assert len(calls) == 3
    assert all("--deselect" in c for c in calls)
    assert res["rc"] == 1
    assert res["summary"].startswith("1 failed, 50 passed")
    assert any("test_boom" in f for f in res["failed"])
    # every test file is covered exactly once across the shards
    sharded_files = [f for c in calls for f in c
                     if str(f).startswith("tests/")]
    import glob
    all_files = sorted(os.path.relpath(p, rss.REPO) for p in glob.glob(
        os.path.join(rss.REPO, "tests", "test_*.py")))
    assert sorted(sharded_files) == all_files


def test_scratch_dirs_cover_spark_local_dirs(monkeypatch):
    """ADVICE r11: the disk preflight must look at the filesystems Spark
    shuffle scratch actually uses — SPARK_LOCAL_DIRS and any
    spark.local.dir routed via SPARK_GRAFT_EXTRA_CONF — not only the
    staging tmpdir."""
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/mnt/fast1,/mnt/fast2")
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF",
                       "spark.local.dir=/mnt/alt;spark.foo=bar")
    dirs = bench._scratch_dirs()
    assert "/mnt/fast1" in dirs and "/mnt/fast2" in dirs
    assert "/mnt/alt" in dirs
    import tempfile
    assert tempfile.gettempdir() in dirs
    monkeypatch.delenv("SPARK_LOCAL_DIRS")
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF")
    assert bench._scratch_dirs() == [tempfile.gettempdir()]


def _sharded_runner():
    import os
    import sys
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    import run_suite_sharded
    return run_suite_sharded


def test_gate_shards_garbage_falls_back_to_default(monkeypatch):
    """A non-integer SPARK_GRAFT_GATE_SHARDS runs the default sharded
    gate instead of raising ValueError."""
    import subprocess
    rss = _sharded_runner()
    calls = []

    class P:
        returncode = 0
        stdout = "3 passed in 1.00s"
        stderr = ""

    def fake_run(cmd, **kw):
        calls.append(cmd)
        return P()

    monkeypatch.delenv("SPARK_GRAFT_BENCH_REQUIRE_GREEN", raising=False)
    monkeypatch.setattr(subprocess, "run", fake_run)
    for raw in ("four", "", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_GATE_SHARDS", raw)
        assert rss.gate_shards() == rss.DEFAULT_SHARDS
        calls.clear()
        out = bench._require_green_suite()
        assert out["tests_green"] is True
        assert len(calls) == rss.DEFAULT_SHARDS
    monkeypatch.setenv("SPARK_GRAFT_GATE_SHARDS", "2")
    assert rss.gate_shards() == 2


def test_sharded_gate_names_a_shard_that_dies_early():
    """A shard that exits before pytest prints its summary (here: a
    plugin that cannot be imported) fails the gate, and the tail of its
    stderr names the crash in the shard summary and the failed list."""
    rss = _sharded_runner()
    res = rss.run_sharded(2, ["-p", "no_such_plugin_xyz"])
    assert res["rc"] == 1
    assert len(res["shard_summaries"]) == 2
    assert all("no_such_plugin_xyz" in s for s in res["shard_summaries"])
    assert any("no_such_plugin_xyz" in f for f in res["failed"])
    assert len(res["failed"][0]) < 400


# ------------------------------------------------- stage attribution

_T0 = "2026-01-01T00:00:0{}.000GMT"


def _stage(sid, status="COMPLETE", run_ms=100, cpu_ns=50_000_000,
           read=0, spill=0, start=0, end=1):
    return {"stageId": sid, "attemptId": 0, "status": status,
            "numTasks": 4, "executorRunTime": run_ms,
            "executorCpuTime": cpu_ns, "jvmGcTime": 10,
            "shuffleWriteBytes": 1 << 20, "shuffleReadBytes": read,
            "memoryBytesSpilled": spill, "diskBytesSpilled": 0,
            "submissionTime": _T0.format(start),
            "completionTime": _T0.format(end), "name": f"count at s{sid}"}


def _fake_rest(monkeypatch, jobs, stages):
    """Serve canned status-REST ``/jobs`` and ``/stages`` payloads; return
    a stand-in session whose UI runs at a fixed port."""
    import io
    import types
    import urllib.request

    def fake_urlopen(url, timeout=None):
        assert "/api/v1/applications/app-1/" in url
        body = jobs if url.endswith("/jobs") else stages
        return io.BytesIO(json.dumps(body).encode())

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    sc = types.SimpleNamespace(uiWebUrl="http://127.0.0.1:4040",
                               applicationId="app-1")
    return types.SimpleNamespace(sparkContext=sc)


def test_group_stages_counts_only_its_group(monkeypatch):
    """Stages of another group (a concurrent job) and of ungrouped jobs
    that interleave with the group's in id order are not attributed; a
    stage-id range taken around the repeat would hold all of 10-13."""
    stages = [_stage(10, run_ms=300, start=0, end=2),
              _stage(11, run_ms=9000, read=5 << 20, start=1, end=3),
              _stage(12, run_ms=200, read=3 << 20, spill=2 << 20,
                     start=4, end=5),
              _stage(13, run_ms=7000)]
    jobs = [{"jobId": 0, "jobGroup": "bench:q:1", "stageIds": [10]},
            {"jobId": 1, "jobGroup": "other", "stageIds": [11]},
            {"jobId": 2, "jobGroup": "bench:q:1", "stageIds": [12]},
            {"jobId": 3, "stageIds": [13]}]
    spark = _fake_rest(monkeypatch, jobs, stages)
    m = bench._group_stages(spark, "bench:q:1")
    assert m["jobs"] == 2 and m["n_stages"] == 2 and m["tasks"] == 8
    assert m["executor_run_sec"] == 0.5 and m["executor_cpu_sec"] == 0.1
    assert m["executor_gc_sec"] == 0.02 and m["span_sec"] == 3.0
    assert m["shuffle_write_mb"] == 2 and m["shuffle_read_mb"] == 3
    assert m["mem_spill_mb"] == 2 and m["disk_spill_mb"] == 0
    assert [s["id"] for s in m["top_stages"]] == [10, 12]
    assert m["top_stages"][0] == {"id": 10, "tasks": 4, "run_sec": 0.3,
                                  "cpu_sec": 0.05, "name": "count at s10"}


def test_group_stages_excludes_skipped(monkeypatch):
    stages = [_stage(20), _stage(21, status="SKIPPED"), _stage(22)]
    jobs = [{"jobId": 0, "jobGroup": "g", "stageIds": [20, 21]},
            {"jobId": 1, "jobGroup": "g", "stageIds": [21, 22]}]
    m = bench._group_stages(_fake_rest(monkeypatch, jobs, stages), "g")
    assert m["n_stages"] == 2 and m["tasks"] == 8
    assert sorted(s["id"] for s in m["top_stages"]) == [20, 22]


def test_group_stages_failed_read_is_empty(monkeypatch):
    import types
    import urllib.error
    import urllib.request

    def refused(url, timeout=None):
        raise urllib.error.URLError("connection refused")

    spark = _fake_rest(monkeypatch, [], [])
    monkeypatch.setattr(urllib.request, "urlopen", refused)
    assert bench._group_stages(spark, "g") == {}
    # UI off: no web URL at all
    off = types.SimpleNamespace(sparkContext=types.SimpleNamespace(
        uiWebUrl=None, applicationId="app-1"))
    assert bench._group_stages(off, "g") == {}
    # the group ran no job the status store knows of
    spark = _fake_rest(monkeypatch, [{"jobId": 0, "jobGroup": "h",
                                      "stageIds": [1]}], [_stage(1)])
    assert bench._group_stages(spark, "g") == {}


def test_streaming_attempt_reads_its_run_id_groups(monkeypatch):
    """A streaming scale attempt's micro-batches run under the query's
    runId group, not the attempt's: the attempt reads the runId groups
    that appeared during it and sums them into its stage metrics; an
    older stream's group (there before the attempt) stays out."""
    old, new = ("0a0b0c0d-1111-2222-3333-444455556666",
                "9f8e7d6c-aaaa-bbbb-cccc-ddddeeeeffff")
    stages = [_stage(1, run_ms=100, start=0, end=1),
              _stage(2, run_ms=800, read=4 << 20, start=2, end=4),
              _stage(3, run_ms=300, start=5, end=6),
              _stage(4, run_ms=5000)]
    before = [{"jobId": 0, "jobGroup": old, "stageIds": [4]}]
    after = before + [
        {"jobId": 1, "jobGroup": "bench:st_stream_1m:0", "stageIds": [1]},
        {"jobId": 2, "jobGroup": new, "stageIds": [2]},
        {"jobId": 3, "jobGroup": new, "stageIds": [3]}]
    spark = _fake_rest(monkeypatch, before, stages)
    known = bench._stream_groups(spark)
    assert known == {old}
    spark = _fake_rest(monkeypatch, after, stages)
    run_ids = sorted(bench._stream_groups(spark) - known)
    assert run_ids == [new]
    m = bench._group_stages(spark, "bench:st_stream_1m:0", *run_ids)
    assert m["jobs"] == 3 and m["n_stages"] == 3 and m["tasks"] == 12
    assert m["executor_run_sec"] == 1.2 and m["span_sec"] == 4.0
    assert m["shuffle_read_mb"] == 4
    assert [s["id"] for s in m["top_stages"]] == [2, 3, 1]
    alone = bench._group_stages(spark, "bench:st_stream_1m:0")
    assert alone["jobs"] == 1 and alone["n_stages"] == 1
    assert "includes the stream's micro-batch jobs" in \
        bench._classify_attempt("st_stream_1m", m)


# ------------------------------------------------------- host counters

def test_host_load_from_tracing_probes(monkeypatch):
    monkeypatch.setattr(bench, "_first_touch_probe", lambda: None)
    monkeypatch.setattr(bench.os, "cpu_count", lambda: 4)
    # user nice system idle iowait irq softirq steal
    p0 = {"loadavg": [1.0, 0.5, 0.2], "cpu_jiffies": [100, 0, 0, 800, 100,
                                                      0, 0, 0],
          "steal_jiffies": 0}
    p1 = {"loadavg": [2.5, 0.7, 0.3], "cpu_jiffies": [300, 0, 0, 1000, 100,
                                                      0, 0, 100],
          "steal_jiffies": 100}
    assert bench._host_load(p0, p1) == {
        "load1_start": 1.0, "load1_end": 2.5, "busy_cores_avg": 2.4,
        "ncpu": 4, "steal_cores_avg": 0.8}
    # the live probe's dicts feed it as they are
    from perfbench.tracing import host_probe
    assert {"load1_start", "load1_end"} <= set(
        bench._host_load(host_probe(), host_probe()))


# --------------------------------------------------- sustained records

def test_sustained_record_keys(monkeypatch):
    import types
    monkeypatch.setattr(bench, "_host_load", lambda p0, p1: {"hl": 1})
    rep = types.SimpleNamespace(n_searches=98, failures=2, stragglers=1,
                                duration_sec=10.04, qps=9.7654,
                                latency={"p50": 0.1})
    base = ["workers", "nq", "duration_sec", "searches", "failures",
            "stragglers", "success_rate", "qps", "latency_sec",
            "host_load"]
    rec = bench._sustained_record(rep, {})
    assert list(rec) == base
    assert rec == {"workers": 10, "nq": 1, "duration_sec": 10.0,
                   "searches": 98, "failures": 2, "stragglers": 1,
                   "success_rate": 0.98, "qps": 9.77,
                   "latency_sec": {"p50": 0.1}, "host_load": {"hl": 1}}
    pooled = bench._sustained_record(rep, {}, pool_size=32)
    assert list(pooled) == base[:2] + ["pool_size"] + base[2:]
    assert list(bench._sustained_record(rep, {}, top_k=15000)) == (
        base[:2] + ["top_k"] + base[2:])
    idle = types.SimpleNamespace(n_searches=0, failures=0, stragglers=0,
                                 duration_sec=1.0, qps=0.0, latency={})
    assert bench._sustained_record(idle, {})["success_rate"] is None


# ------------------------------------------------------ numeric knobs

def test_numeric_knobs_fall_back_on_garbage(monkeypatch):
    for raw in ("three", "", "2.5x"):
        monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEAT", raw)
        assert bench._env_num("SPARK_GRAFT_BENCH_REPEAT", 3) == 3
        monkeypatch.setenv("SPARK_GRAFT_BENCH_SUSTAINED_SEC", raw)
        assert bench._env_num("SPARK_GRAFT_BENCH_SUSTAINED_SEC", 90.0,
                              float) == 90.0
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEAT", "2.5")
    assert bench._env_num("SPARK_GRAFT_BENCH_REPEAT", 3) == 3
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEAT", "7")
    assert bench._env_num("SPARK_GRAFT_BENCH_REPEAT", 3) == 7
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SUSTAINED_SEC", "2.5")
    assert bench._env_num("SPARK_GRAFT_BENCH_SUSTAINED_SEC", 90.0,
                          float) == 2.5
    monkeypatch.delenv("SPARK_GRAFT_BENCH_DRAWS", raising=False)
    assert bench._env_num("SPARK_GRAFT_BENCH_DRAWS", 1) == 1


def test_numeric_knobs_read_through_env_num():
    """No ``int(...)``/``float(...)`` wraps an environment read in
    bench.py: every numeric knob goes through ``_env_num``."""
    import ast
    import inspect
    tree = ast.parse(inspect.getsource(bench))
    bare = [ast.unparse(n) for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and getattr(n.func, "id", None) in ("int", "float")
            and "environ" in ast.unparse(n)]
    assert bare == []
