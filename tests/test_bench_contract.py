"""Bench artifact-contract unit tests (no Spark session needed).

The driver's tail capture parses the FINAL stdout line of bench.py and
records parsed:null if it exceeds ~2 KB or isn't JSON — round 5 lost its
headline number exactly this way. These tests pin the shared
_emit_final/_write_detail helpers both the single-draw and draws modes
now go through (r08 review #6: a diverging copy let one mode overflow
what the other guarded)."""

from __future__ import annotations

import json

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
    # durable side file AND an earlier stdout JSON line carry the blob
    assert json.loads(p.read_text()) == detail
    assert json.loads(_capture_lines(capsys)[-1]) == detail


def test_write_detail_survives_unwritable_path(tmp_path, monkeypatch,
                                               capsys):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL",
                       str(tmp_path / "no_such_dir" / "detail.json"))
    bench._write_detail({"kind": "bench_detail"})  # must not raise
    lines = _capture_lines(capsys)
    # the stdout evidence line still prints after the warning
    assert json.loads(lines[-1]) == {"kind": "bench_detail"}


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


def _committed_text(repo: str, relpath: str):
    """Content of ``relpath`` at HEAD — NOT the working tree.

    Judge r12 task 2: these gate tests used to read the working-tree
    artifacts, so an uncommitted promotion (or a bench run mutating
    BENCH_DETAIL.json mid-driver-sequence) turned every subsequent
    gated run red — the repo's own gates erased all of BENCH_r11 and
    refused the r12 8-core scaling run. The contract is about the
    COMMITTED evidence pair, so compare exactly that. Falls back to the
    working tree only outside a git checkout; returns None if the file
    exists in neither place."""
    import os
    import subprocess
    try:
        r = subprocess.run(["git", "show", f"HEAD:{relpath}"],
                           cwd=repo, capture_output=True, text=True,
                           timeout=30)
        if r.returncode == 0:
            return r.stdout
        # a git checkout, but the path isn't committed (yet)
        if subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo,
                          capture_output=True, timeout=30).returncode == 0:
            return None
    except (OSError, subprocess.TimeoutExpired):
        pass
    p = os.path.join(repo, relpath)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read()


def _check_bench_detail_fresh(repo: str):
    """Core of test_bench_detail_fresh_vs_engine_commits, parameterised
    by repo path so the divergence test below can exercise it on a
    synthetic checkout."""
    import subprocess
    text = _committed_text(repo, "BENCH_DETAIL.json")
    if text is None:
        return                      # nothing committed to protect yet
    detail = json.loads(text)
    try:
        r = subprocess.run(
            ["git", "log", "-1", "--format=%ct", "--", *bench.ENGINE_PATHS],
            cwd=repo, capture_output=True, text=True, timeout=30)
        last_engine_ct = int(r.stdout.strip()) if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired, ValueError):
        last_engine_ct = None
    if last_engine_ct is None:
        return                      # not a git checkout: nothing to compare
    stamp = detail.get("promoted_unix_time")
    assert stamp, (
        "committed BENCH_DETAIL.json has no promoted_unix_time stamp — it "
        "predates the freshness contract; re-run the evidence mode "
        "(SPARK_GRAFT_BENCH_DRAWS=3 SPARK_GRAFT_BENCH_PROMOTE=1) at HEAD")
    assert not detail.get("promoted_engine_dirty"), (
        "committed BENCH_DETAIL.json was promoted from a dirty engine tree "
        "— the evidence does not correspond to any commit; re-promote "
        "after committing")
    assert last_engine_ct <= int(stamp), (
        f"committed BENCH_DETAIL.json is STALE: an engine commit "
        f"(committer time {last_engine_ct}) postdates the artifact's "
        f"promotion ({stamp}). Re-run the evidence mode at HEAD "
        f"(SPARK_GRAFT_BENCH_DRAWS=3 SPARK_GRAFT_BENCH_PROMOTE=1) and "
        f"commit the refreshed artifact")


def _check_survey_marker(repo: str):
    """Core of test_survey_quotes_match_head_bench_detail (see above
    for why both sides come from HEAD, not the working tree)."""
    import re
    text = _committed_text(repo, "BENCH_DETAIL.json")
    if text is None:
        return                      # nothing committed to protect yet
    totals = json.loads(text).get("draw_totals")
    assert totals, "committed BENCH_DETAIL.json has no draw_totals"
    survey = _committed_text(repo, "SURVEY.md")
    assert survey is not None, (
        "BENCH_DETAIL.json is committed but SURVEY.md is not")
    markers = re.findall(r"BENCH_DETAIL draw_totals:\s*([\d./]+)", survey)
    assert markers, (
        "SURVEY.md must carry a 'BENCH_DETAIL draw_totals: a/b/c' marker "
        "matching the committed artifact")
    want = "/".join(f"{t:g}" for t in totals)
    assert markers[-1] == want, (
        f"committed SURVEY.md quotes draw totals {markers[-1]} but the "
        f"committed BENCH_DETAIL.json records {want} — re-run the evidence "
        f"mode and update the SURVEY marker (or restore the curated "
        f"artifact), committing both together")


def test_bench_detail_fresh_vs_engine_commits():
    """Judge r10 "what's wrong" #1: the promoted evidence artifact must
    postdate every engine commit. The r10 artifact was promoted 5 engine
    commits before HEAD and the existing SURVEY-marker test could not
    see it (it only pins SURVEY text == artifact, not artifact >= code).

    Enforcement: BENCH_DETAIL.json carries a ``promoted_unix_time``
    stamp (written by bench._run_draws at promotion); this test fails
    when the committer time of the newest commit touching
    bench.ENGINE_PATHS exceeds it, when the stamp is missing (legacy
    artifact — re-promote), or when the engine tree was dirty at
    promotion (the eventual commit would postdate the evidence).
    bench's own green-suite gate deselects exactly this test so a stale
    artifact cannot deadlock the re-promotion run that fixes it."""
    import os
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _check_bench_detail_fresh(repo)


def test_survey_quotes_match_head_bench_detail():
    """Judge r10 task 1: the curated evidence artifact and the SURVEY
    status must agree — SURVEY.md carries a machine-checkable marker
    line `BENCH_DETAIL draw_totals: a/b/c` and this test fails whenever
    the committed BENCH_DETAIL.json's draw_totals diverge from it (the
    r09 snapshot commit replaced the artifact with a noisier rerun and
    SURVEY kept quoting the old numbers). Both sides are read at HEAD
    (judge r12 task 2): an uncommitted promotion in the working tree
    must not redden the gate of the very runs that produce evidence."""
    import os
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _check_survey_marker(repo)


def test_artifact_gates_ignore_working_tree_divergence(tmp_path):
    """Judge r12 task 2 "done" criterion: with a consistent COMMITTED
    evidence pair, a divergent (uncommitted) working-tree
    BENCH_DETAIL.json — exactly what a mid-sequence bench promotion
    leaves behind — must NOT redden either artifact gate, so the
    driver's follow-up runs (e.g. the low-core scaling sample) still
    pass the green-suite gate."""
    import subprocess
    repo = str(tmp_path)

    def git(*args):
        subprocess.run(["git", *args], cwd=repo, check=True,
                       capture_output=True)

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    detail = {"draw_totals": [1.0, 2.0, 3.0],
              "promoted_unix_time": 2_000_000_000,
              "promoted_engine_dirty": False}
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(detail))
    (tmp_path / "SURVEY.md").write_text(
        "status\nBENCH_DETAIL draw_totals: 1/2/3\n")
    # an engine path older than the stamp, so freshness has a comparison
    (tmp_path / "bench.py").write_text("# engine\n")
    git("add", "-A")
    git("commit", "-q", "-m", "consistent evidence pair")
    # consistent at HEAD: both gates green
    _check_bench_detail_fresh(repo)
    _check_survey_marker(repo)
    # now diverge the WORKING TREE only (uncommitted newer promotion,
    # stale stamp and mismatched totals): both gates must stay green
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(
        {"draw_totals": [9.0, 9.0, 9.0], "promoted_engine_dirty": True}))
    (tmp_path / "SURVEY.md").write_text("no marker at all\n")
    _check_bench_detail_fresh(repo)
    _check_survey_marker(repo)


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
    monkeypatch.setattr(subprocess, "run", lambda cmd, **kw: FakeProc())
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
