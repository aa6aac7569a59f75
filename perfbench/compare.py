#!/usr/bin/env python3
"""Compares two checkouts (parent and change) on one workload.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR --workload verbs

Each of ten pairs runs both checkouts' benchmark (the same `perfbench/run.py`
arguments, the same seed) one after the other, alternating which side runs
first, so drift on the host falls on both sides equally. Both checkouts
must carry the same benchmark files. For every metric it prints each side's
median and quartiles, how many pairs the change won, and the verdict of the
rule in perfbench/README.md: a gain needs the change to win at least nine
tenths of the pairs and the medians to differ by more than the parent's own
quartile spread; a loss beyond the metric's bound in BENCHMARK.json is a
regression.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

PAIRS = 10
SEED0 = 1000  # pair i runs seed SEED0 + i on both sides

def run(checkout, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    results = {"parent": [], "change": []}
    for i in range(PAIRS):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(getattr(a, side), a.workload, SEED0 + i, bench["run_seconds"])
            results[side].append(r)
            print(f"pair {i} {side}: correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())),
                  file=sys.stderr)
    for name in sorted(results["parent"][0]["metrics"]):
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        m = spec.get(name, {})
        lower = m.get("better", "lower") == "lower"
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        diff = (cq[1] - pq[1]) * (-1 if lower else 1)
        gain = wins >= 0.9 * len(p) and diff > pq[2] - pq[0]
        bound = m.get("bound")
        worse = -diff / abs(pq[1]) if pq[1] else 0.0
        verdict = ("gain" if gain else
                   "regression" if bound is not None and worse > bound else "no change shown")
        print(f"{name}: parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  change {cq[1]:.4g} "
              f"[{cq[0]:.4g}, {cq[2]:.4g}]  change won {wins}/{len(p)}  -> {verdict}")


if __name__ == "__main__":
    main()
