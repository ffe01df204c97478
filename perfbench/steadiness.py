#!/usr/bin/env python3
"""Steadiness check: two sets of untraced runs of one commit.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--workloads ...]

Run from the repository root.  Each set runs every workload ``--runs``
times, each run with its own seed (set k uses seeds ``first + k*runs``
onwards), through ``perfbench/run.py`` with the ``run_seconds`` of
BENCHMARK.json.  Reports per workload and end-to-end metric each set's
median and quartile spread ``(q3 - q1) / median`` (quartiles as
``statistics.quantiles(values, n=4)`` gives them), and how far the
second set's median is worse than the first's, both as a share of the
median and against the metric's bound.  The JSON report is the evidence
for the bounds recorded in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--report", default=os.path.join(HERE, ".cache", "steadiness.json"))
    args = ap.parse_args()

    metrics = {m["name"]: m for m in bench["end_to_end"]}
    runs: dict[str, list[list[dict]]] = {}
    for k in range(args.sets):
        for w in args.workloads:
            for i in range(args.runs):
                seed = args.first_seed + k * args.runs + i
                r = one_run(w, seed, bench["run_seconds"])
                runs.setdefault(w, [[] for _ in range(args.sets)])[k].append(r)
                print(f"set {k} {w} seed {seed}: correct={r['correct']} "
                      f"wall={r['wall_s']:.1f}s", flush=True)

    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    print(f"\n{'workload':18s} {'metric':22s} {'bound':>6s} "
          + " ".join(f"{'median' + str(k):>12s} {'spread' + str(k):>8s}" for k in range(args.sets))
          + f" {'worse':>7s}")
    for w, sets in runs.items():
        rep = report["workloads"][w] = {
            "correct": all(r["correct"] for s in sets for r in s),
            "wall_s_max": max(r["wall_s"] for s in sets for r in s),
            "wall_s_median": statistics.median(r["wall_s"] for s in sets for r in s),
            "metrics": {},
        }
        ok = ok and rep["correct"]
        for name, m in metrics.items():
            vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (meds[-1] - meds[0]) / meds[0]
            within = worse <= m["bound"] and (
                name == "setup_s" or all(s <= m["bound"] for s in spreads))
            ok = ok and within
            rep["metrics"][name] = {"bound": m["bound"], "medians": meds, "spreads": spreads,
                                    "second_worse_by": worse, "within_bound": within,
                                    "values": vals}
            print(f"{w:18s} {name:22s} {m['bound']:6.2f} "
                  + " ".join(f"{md:12.5g} {sp:8.3f}" for md, sp in zip(meds, spreads))
                  + f" {worse:+7.3f}{'' if within else '  OUT OF BOUND'}")
    os.makedirs(os.path.dirname(args.report), exist_ok=True)
    with open(args.report, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nreport: {args.report}; {'all within bounds' if ok else 'NOT within bounds'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
