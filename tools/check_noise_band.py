"""Sub-second noise-band report (judge r09 task 6).

Measured finding (r10, encoded in the BASELINE.md policy): within one
JVM a 3-5-run min/max band is tight, but across FRESH JVMs whole-draw-
correlated shifts move every entry's median together by up to ~2x even
on a quiet host (draw_host_load busy_cores ~6/32) — so the band that
makes regression calls trustworthy is the CROSS-DRAW median band
(min/max of each entry's per-draw medians, recorded in the draws-mode
record's `draw_queries`), not the within-JVM repeat band.

Usage:
  python tools/check_noise_band.py [detail.json]
      — print each entry's cross-draw median band + relative spread
        (default: BENCH_RUN.json, the record bench.py writes).
  python tools/check_noise_band.py OLD.json NEW.json
      — regression report: flag entries whose NEW committed median
        falls outside OLD's cross-draw band (and vice versa); entries
        >=1 s additionally use the plain >10%-median rule between the
        two committed (median-draw) values.

Exit 0 always — a report for review, not a CI gate.
"""

from __future__ import annotations

import json
import os
import sys


def _bands(detail: dict) -> dict[str, tuple[float, float]]:
    dq = detail.get("draw_queries")
    if dq:
        names = set(dq[0])
        for q in dq[1:]:
            names &= set(q)
        return {n: (min(q[n] for q in dq), max(q[n] for q in dq))
                for n in names}
    # pre-r10 artifact: only the median draw's within-JVM latency band
    lat = detail.get("latency") or {}
    return {n: (s["min"], s["max"]) for n, s in lat.items()}


def _committed(detail: dict) -> dict[str, float]:
    dq = detail.get("draw_queries")
    if dq:
        totals = detail.get("draw_totals")
        if totals and len(totals) == len(dq):
            return dq[len(dq) // 2]      # draws stored sorted by total
    return {n: s["p50"] for n, s in (detail.get("latency") or {}).items()}


def _mixed_p50s(block: dict) -> dict[str, float]:
    """Per-op p50 map (keys ``mixed/<op>``) from one sustained_mixed
    block; empty when the artifact predates the mixed block (r10-)."""
    ops = (block or {}).get("ops") or {}
    return {f"mixed/{op}": v["latency"]["p50"]
            for op, v in ops.items() if v.get("latency", {}).get("p50")}


def _mixed_bands(detail: dict) -> dict[str, tuple[float, float]]:
    """Cross-draw min/max band of each mixed-workload op's p50 latency
    (judge r11 task 7: the mixed block's per-op p50s mirror the
    reference's pressure metrics — requests/_pressure.py:32-68 — and
    previously had no regression reference)."""
    draws = detail.get("draw_sustained_mixed") or []
    per_draw = [_mixed_p50s(b) for b in draws if b]
    if not per_draw:
        # fall back to the committed draw's block as a degenerate band
        per_draw = [_mixed_p50s(detail.get("sustained_mixed") or {})]
    names = set(per_draw[0]) if per_draw else set()
    for p in per_draw[1:]:
        names &= set(p)
    return {n: (min(p[n] for p in per_draw), max(p[n] for p in per_draw))
            for n in names}


def _mixed_committed(detail: dict) -> dict[str, float]:
    return _mixed_p50s(detail.get("sustained_mixed") or {})


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = sys.argv[1:]
    if len(args) <= 1:
        path = args[0] if args else os.path.join(repo, "BENCH_RUN.json")
        with open(path) as f:
            d = json.load(f)
        bands = dict(_bands(d), **_mixed_bands(d))
        for n in sorted(bands, key=lambda n: -(bands[n][1] - bands[n][0])
                        / max(bands[n][0], 1e-9)):
            lo, hi = bands[n]
            print(f"{n}: band {lo:.3f}-{hi:.3f} "
                  f"(spread {(hi - lo) / max(lo, 1e-9) * 100:.0f}%)")
        return
    with open(args[0]) as f:
        old = json.load(f)
    with open(args[1]) as f:
        new = json.load(f)
    ob = dict(_bands(old), **_mixed_bands(old))
    nb = dict(_bands(new), **_mixed_bands(new))
    oc = dict(_committed(old), **_mixed_committed(old))
    nc = dict(_committed(new), **_mixed_committed(new))
    # r12+: the mixed block carries a post-run DQL validation verdict —
    # a regression to ok:false is a correctness flag, not a noise call
    pv = ((new.get("sustained_mixed") or {}).get("post_validation")
          or {}).get("ok")
    if pv is False:
        print("POST-VALIDATION failed in NEW sustained_mixed block "
              "(ok: false) — surviving collection state drifted")
    flagged = 0
    for n in sorted(set(ob) & set(nb) & set(oc) & set(nc)):
        o_med, n_med = oc[n], nc[n]
        if max(o_med, n_med) >= 1.0:
            if abs(n_med - o_med) / max(o_med, 1e-9) > 0.10:
                flagged += 1
                print(f">10% {n}: {o_med:.3f} -> {n_med:.3f}")
            continue
        in_old = ob[n][0] <= n_med <= ob[n][1]
        in_new = nb[n][0] <= o_med <= nb[n][1]
        if not (in_old or in_new):
            flagged += 1
            print(f"BAND {n}: {o_med:.3f} -> {n_med:.3f} outside both "
                  f"cross-draw bands [{ob[n][0]:.3f}-{ob[n][1]:.3f}] / "
                  f"[{nb[n][0]:.3f}-{nb[n][1]:.3f}]")
    print(f"{flagged} entries outside the documented noise bands")


if __name__ == "__main__":
    main()
