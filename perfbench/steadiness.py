#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and reports, per
end-to-end metric, the median and the spread (interquartile distance over
the median, as statistics.quantiles(values, n=4) gives the quartiles)
against the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload cidr --seeds 1-10

Run from the repository root. A spread under a third of the bound is
steady; one under the bound passes; anything else fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {}
    for s in a.seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(ROOT, spec["command"][1]),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        out = p.stdout.strip().split("\n")
        r = json.loads(out[-1]) if p.returncode == 0 and out[-1] else {}
        print(f"seed {s}: exit {p.returncode}, {time.time() - t0:.1f} s, "
              f"correct {r.get('correct')}, failed {r.get('failed')}/{r.get('attempted')}",
              flush=True)
        for k, v in r.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q[2] - q[0]) / med
        b = bounds[k]
        verdict = "steady" if spread < b / 3 else "passes" if spread <= b else "FAILS"
        print(f"{k:24s} median {med:12.4f}  spread {spread:6.3f}  bound {b}  {verdict}")


if __name__ == "__main__":
    main()
