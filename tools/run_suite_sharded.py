"""Sharded full-suite runner (VERDICT r12 #7: the serial gate suite's
~11-30 min wall clock is why end-of-round promotions kept being cut off).

Runs the same tests with the same pass criteria as ``pytest tests/`` —
only the PROCESS layout changes: test files are split into N shards
(greedy by a measured-cost table, falling back to file size) and each
shard runs as its own pytest subprocess with its own Spark session.
Shards run concurrently; the box has 32 cores and the tests' sessions
are local[8] (conftest default), so the default 4 shards saturate
without oversubscribing.

Usage:
  python tools/run_suite_sharded.py [--shards N] [pytest-args...]
Exit status: 0 iff every shard exited 0. Prints one summary line
(aggregated "X passed, Y failed ... in Zs") plus each shard's failures.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SHARDS = 4

#: a pytest -q summary line ("1 failed, 10 passed in 5.00s", "no tests ran
#: in 0.01s"); a shard whose last line is not one died before reporting
_SUMMARY = re.compile(r"(\d+ (passed|failed|errors?|skipped|deselected)"
                      r"|no tests ran)\b.* in \d")


def gate_shards() -> int:
    """``SPARK_GRAFT_GATE_SHARDS`` as an int, :data:`DEFAULT_SHARDS` when
    it is unset or not an integer (a typo must not crash the gate)."""
    try:
        return int(os.environ.get("SPARK_GRAFT_GATE_SHARDS", ""))
    except ValueError:
        return DEFAULT_SHARDS

#: Rough serial cost weights (seconds, measured r13 on the build host —
#: used only for shard balancing; wrong weights cost balance, never
#: correctness). Files not listed weigh in by size.
COST_HINTS = {
    # calibrated from the r13 4-shard run on the build host (shard walls
    # 321/617/292/466 s back-solved per file)
    "tests/test_operators.py": 380,
    "tests/test_oracle_parity.py": 260,
    "tests/test_workload.py": 150,
    "tests/test_plans.py": 120,
    "tests/test_arrow_kernels.py": 110,
    "tests/test_streaming.py": 90,
    "tests/test_stream_ingest.py": 80,
    "tests/test_schema_manager.py": 80,
    "tests/test_multimodal.py": 60,
    "tests/test_parity_features.py": 60,
    "tests/test_dml_model.py": 45,
    "tests/test_expr_differential.py": 45,
    "tests/test_exprlang.py": 40,
    "tests/test_geo_differential.py": 40,
    "tests/test_struct_array.py": 30,
    "tests/test_querylog.py": 20,
    "tests/test_geo_escaping.py": 15,
}


def _shard_files(n_shards: int) -> list[list[str]]:
    files = sorted(glob.glob(os.path.join(REPO, "tests", "test_*.py")))
    rel = [os.path.relpath(f, REPO) for f in files]
    costed = sorted(
        ((COST_HINTS.get(f, max(1, os.path.getsize(os.path.join(REPO, f))
                                // 2000)), f) for f in rel),
        reverse=True)
    shards: list[tuple[float, list[str]]] = [(0.0, []) for _ in
                                             range(n_shards)]
    for cost, f in costed:       # greedy longest-processing-time
        i = min(range(n_shards), key=lambda j: shards[j][0])
        shards[i] = (shards[i][0] + cost, shards[i][1] + [f])
    return [s[1] for s in shards if s[1]]


def run_sharded(n_shards: int, extra_args: list[str] | None = None,
                env: dict | None = None) -> dict:
    """Run the suite in ``n_shards`` concurrent pytest subprocesses.
    Returns {"rc", "summary", "failed", "seconds", "shard_summaries"}."""
    extra_args = extra_args or []
    t0 = time.time()
    shards = _shard_files(n_shards)
    procs = []
    outs: list[str] = [""] * len(shards)
    errs: list[str] = [""] * len(shards)

    def run_one(i: int, files: list[str]) -> None:
        p = subprocess.run(
            [sys.executable, "-m", "pytest", *files, "-q", "-rf",
             *extra_args],
            cwd=REPO, capture_output=True, text=True,
            env=env if env is not None else os.environ.copy())
        outs[i] = p.stdout or ""
        errs[i] = p.stderr or ""
        procs[i] = p.returncode

    threads = []
    procs = [None] * len(shards)
    for i, files in enumerate(shards):
        th = threading.Thread(target=run_one, args=(i, files), daemon=True)
        th.start()
        threads.append(th)
    for th in threads:
        th.join()

    passed = failed = errors = deselected = skipped = 0
    failed_tests: list[str] = []
    crashes: list[str] = []
    shard_summaries: list[str] = []
    for i, out in enumerate(outs):
        tail = [ln for ln in out.strip().splitlines() if ln]
        summary = tail[-1] if tail else ""
        if not _SUMMARY.search(summary):
            # the shard died before pytest reported: name the crash from
            # the end of its stderr
            err = " | ".join(errs[i].strip().splitlines()[-3:])
            summary = (f"shard {i} exited {procs[i]} without a pytest "
                       f"summary: {err[-300:] or 'no stderr'}")
            crashes.append(summary)
        shard_summaries.append(summary)
        for kind, pat in (("passed", r"(\d+) passed"),
                          ("failed", r"(\d+) failed"),
                          ("errors", r"(\d+) error"),
                          ("deselected", r"(\d+) deselected"),
                          ("skipped", r"(\d+) skipped")):
            m = re.search(pat, summary)
            if m:
                v = int(m.group(1))
                if kind == "passed":
                    passed += v
                elif kind == "failed":
                    failed += v
                elif kind == "errors":
                    errors += v
                elif kind == "deselected":
                    deselected += v
                elif kind == "skipped":
                    skipped += v
        failed_tests += [ln.split(" - ")[0][:160] for ln in tail
                         if ln.startswith(("FAILED", "ERROR"))]
    seconds = time.time() - t0
    # a shard that crashed before printing a summary fails the gate
    rc = 0 if all(p == 0 for p in procs) and not crashes else 1
    bits = [f"{passed} passed"]
    if failed:
        bits.insert(0, f"{failed} failed")
    if errors:
        bits.append(f"{errors} errors")
    if skipped:
        bits.append(f"{skipped} skipped")
    if deselected:
        bits.append(f"{deselected} deselected")
    summary = (", ".join(bits)
               + f" in {seconds:.2f}s ({len(shards)} shards)")
    return {"rc": rc, "summary": summary,
            "failed": (crashes + failed_tests)[:8],
            "seconds": round(seconds, 1),
            "shard_summaries": shard_summaries}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--shards", type=int, default=gate_shards())
    args, extra = ap.parse_known_args()
    res = run_sharded(args.shards, extra)
    for i, s in enumerate(res["shard_summaries"]):
        print(f"# shard {i}: {s}")
    for f in res["failed"]:
        print(f)
    print(res["summary"])
    sys.exit(res["rc"])


if __name__ == "__main__":
    main()
