"""One-shot measurement harness for the BASELINE.md scaling model
(judge r09 task 5): run each dedup/ANN scale entry at 1M and 10M in a
fresh subprocess JVM with the Spark UI on, and record wall clock, rows,
the entry's job-group stage metrics (bench._group_stages: shuffle
read/write volume, executor cpu/run seconds, spill, hottest stages) and
host load — the measured per-doc coefficients the 100 TB projection is
built from.

Usage: python tools/measure_scaling.py [entry ...]
Writes SCALING_MODEL.json at the repo root (one section per entry/size).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRIES = {
    "dd_minhash": ("dd_minhash_1m", "dd_minhash_10m"),
    "dd_ngram": ("dd_ngram_1m", "dd_ngram_10m"),
    "v_sparse": ("v_sparse_1m", "v_sparse_10m"),
    # third decades — request explicitly (python tools/measure_scaling.py
    # dd_ngram_100m ...): ~20-45 min each, driver mem raised to the box's
    # real heap (the 16g default OOMs at 100M — measured r10)
    "dd_minhash_100m": ("dd_minhash_100m",),
    "dd_ngram_100m": ("dd_ngram_100m",),
    "v_sparse_100m": ("v_sparse_100m",),
}
IMPLICIT = {"dd_minhash", "dd_ngram", "v_sparse"}

_CODE = """
import json, os, time
os.environ["SPARK_GRAFT_UI"] = "1"
import bench
import __spark_entry__ as E
from perfbench.tracing import host_probe
from vectordb_testbricks_spark.session import get_spark
spark = get_spark("scaling_probe")
p0 = host_probe()
with bench._job_group(spark, "scaling:{name}"):
    t0 = time.perf_counter()
    n = E.{name}(spark, "/root/testdata/sf0.1").count()
    wall = round(time.perf_counter() - t0, 3)
m = bench._group_stages(spark, "scaling:{name}")
m["host_load"] = bench._host_load(p0, host_probe())
m["wall_sec"] = wall
m["rows"] = n
print("SCALING", json.dumps(m), flush=True)
"""


def measure(name: str) -> dict | None:
    code = _CODE.format(name=name)
    is_100m = name.endswith("_100m")
    if is_100m:
        # same scratch-disk preflight as bench.py's gated stretch path
        # (ADVICE r11: a measure_scaling run of dd_ngram_100m on a
        # low-disk box could still fill the disk to the ceiling — the
        # exact failure mode _stretch_disk_shortfall exists to prevent)
        sys.path.insert(0, REPO)
        import bench
        shortfall = bench._stretch_disk_shortfall(name)
        if shortfall:
            print(f"# {name}: SKIPPED — {shortfall}", flush=True)
            return None
    env = dict(os.environ)
    if is_100m:
        env["SPARK_GRAFT_DRIVER_MEM"] = env.get(
            "SPARK_GRAFT_DRIVER_MEM_100M", "80g")
    if name == "dd_ngram_100m" and "SPARK_GRAFT_EXTRA_CONF" not in env:
        # the decade only fits the box's scratch disk under zstd shuffle
        # compression (~60 GB peak vs ~74+ GB lz4 — SCALING_MODEL.json);
        # same config bench.py's gated stretch entry uses
        env["SPARK_GRAFT_EXTRA_CONF"] = "spark.io.compression.codec=zstd"
    try:
        r = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                           capture_output=True, text=True,
                           timeout=(3600 if is_100m else 1800))
    except subprocess.TimeoutExpired:
        print(f"# {name}: TIMEOUT", flush=True)
        return None
    for line in reversed((r.stdout or "").splitlines()):
        if line.startswith("SCALING "):
            return json.loads(line[len("SCALING "):])
    print(f"# {name}: FAILED rc={r.returncode} "
          f"stderr={(r.stderr or '')[-300:]!r}", flush=True)
    return None


def main() -> None:
    only = set(sys.argv[1:])
    out_path = os.path.join(REPO, "SCALING_MODEL.json")
    results: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f)
    for family, names in ENTRIES.items():
        if only:
            if family not in only:
                continue
        elif family not in IMPLICIT:
            # 100M decades never run by accident — each is a deliberate
            # ~20-45 min committed-evidence session
            continue
        for name in names:
            m = measure(name)
            if m is not None:
                results[name] = m
                print(f"# {name}: wall={m['wall_sec']}s rows={m['rows']} "
                      f"shuffle_w={m.get('shuffle_write_mb')}MB "
                      f"cpu={m.get('executor_cpu_sec')}s "
                      f"host={m.get('host_load')}", flush=True)
            with open(out_path, "w") as f:
                json.dump(results, f, indent=1, sort_keys=True)
                f.write("\n")


if __name__ == "__main__":
    main()
