"""Steadiness self-check: is every end-to-end metric steady within its bound?

    python3 jobbench/steady.py --runs 10 [--workload near_dup ...] [--seconds N]

Runs each workload ``--runs`` times, one seed per run, as two
interleaved sets (A, B, A, B, ...), all in one process at a time.  For
every end-to-end metric it prints the median and quartiles of all runs,
the spread (Q3 - Q1) / median against the metric's bound, and the
medians of the two sets with the drift of B from A in the metric's
worse direction.  ``setup_s`` and ``near_dup`` are reported first.
Exits nonzero when a spread or a drift exceeds its bound, or when a run
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as the acceptance rule computes it."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def drift(a: float, b: float, better: str) -> float:
    """How much worse B's median is than A's, as a share of A's."""
    if not a:
        return 0.0
    return (a - b) / a if better == "higher" else (b - a) / a


def run_once(workload: str, seed: int, seconds: int) -> dict | None:
    cmd = [sys.executable, "jobbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
        return None
    print(f"  {workload} seed {seed}: {lines[-2] if len(lines) > 1 else ''}", flush=True)
    return json.loads(lines[-1])


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=101)
    args = ap.parse_args(argv)
    workloads = args.workload or sorted(names, key=lambda w: w != "near_dup")
    metrics = sorted(spec["end_to_end"], key=lambda m: m["name"] != "setup_s")
    ok = True
    for wl in workloads:
        print(f"{wl}: {args.runs} runs, sets A/B interleaved", flush=True)
        results = []
        for i in range(args.runs):
            res = run_once(wl, args.first_seed + i, args.seconds)
            ok &= res is not None and res["correct"]
            results.append(res)
        good = [(i, r) for i, r in enumerate(results) if r is not None]
        if len(good) < 4:
            print(f"{wl}: too few successful runs")
            ok = False
            continue
        for m in metrics:
            name, bound = m["name"], m["bound"]
            vals = [r["metrics"][name]["value"] for _i, r in good]
            med, q1, q3, sp = spread(vals)
            a = statistics.median(v for (i, _r), v in zip(good, vals) if i % 2 == 0)
            b = statistics.median(v for (i, _r), v in zip(good, vals) if i % 2 == 1)
            d = drift(a, b, m["better"])
            flag = ""
            if sp > bound or d > bound:
                flag = "  OVER BOUND"
                ok = False
            elif sp > bound / 3:
                flag = "  above a third of the bound"
            print(f"  {wl}/{name:<18} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f}"
                  f" spread {sp:7.2%} (bound {bound:.0%})  A {a:.4f} B {b:.4f}"
                  f" drift {d:+7.2%}{flag}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
