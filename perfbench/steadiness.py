#!/usr/bin/env python3
"""Steadiness self-check of the benchmark on one commit.

Usage (from the repository root):

    python3 perfbench/steadiness.py [--workloads a,b] [--runs 10] [--sets 2]

Makes `--sets` sets of `--runs` untraced runs of each workload, every run
with another seed, and prints for each end-to-end metric of
BENCHMARK.json: each set's median, its spread (distance between the first
and third quartile as a share of the median) and how far the last set's
median moved from the first set's. A metric passes when every set's
spread is within its bound and no later median is worse than the first
by more than the bound. Exits 1 if any metric fails.
Raw values go to perfbench/.out/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    args = ap.parse_args()

    raw = {}
    seed = 1
    for s in range(args.sets):
        for w in args.workloads.split(","):
            for _ in range(args.runs):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
                t0 = time.monotonic()
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                if p.returncode != 0:
                    sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
                    raise SystemExit(f"run failed: {' '.join(cmd)}")
                result = json.loads(p.stdout.strip().splitlines()[-1])
                raw.setdefault(w, [[] for _ in range(args.sets)])[s].append(
                    {"seed": seed, **{k: v["value"] for k, v in result["metrics"].items()},
                     "correct": result["correct"], "failed": result["failed"]})
                print(f"set {s + 1} {w} seed {seed} ({time.monotonic() - t0:.0f} s): " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
                seed += 1
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out", "steadiness.json"), "w") as fh:
        json.dump(raw, fh, indent=1)

    ok = True
    print(f"\n{'workload':16} {'metric':16} {'bound':>6} {'medians':>24} {'spreads':>16} {'drift':>7}")
    for w, sets in raw.items():
        if not all(r["correct"] for rs in sets for r in rs):
            print(f"{w}: some runs reported correct=false")
            ok = False
        for m in bench["end_to_end"]:
            vals = [[r[m["name"]] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            sps = [spread(v) for v in vals] if args.runs >= 2 else [0.0] * len(vals)
            sign = 1 if m["better"] == "lower" else -1
            drift = max(sign * (x - meds[0]) / meds[0] for x in meds)
            good = drift <= m["bound"] and max(sps) <= m["bound"]
            ok &= good
            print(f"{w:16} {m['name']:16} {m['bound']:6.2f} "
                  f"{' '.join(f'{x:.4g}' for x in meds):>24} "
                  f"{' '.join(f'{x:.3f}' for x in sps):>16} {drift:7.3f}"
                  f"{'' if good else '  FAIL'}{'  (> bound/3)' if good and max(sps) > m['bound'] / 3 else ''}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
