"""Steadiness self-check: repeat each workload and compare spreads.

    python3 perfbench/steady.py --runs 10 [--workloads convert_sweep] [--first-seed 1]

Runs ``run.py`` once per seed and workload (workloads interleaved
within a seed), exactly as BENCHMARK.json's ``command`` does with
``--trace 0``. For each end-to-end metric it prints the median, the
quartiles from ``statistics.quantiles(values, n=4)``, the spread
(Q3 - Q1) / median, the metric's bound, and whether the spread stays
within the bound and within a third of it. Exits 1 if any spread
other than ``setup_s``'s exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    values = {w: {m["name"]: [] for m in bench["end_to_end"]} for w in workloads}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        for w in workloads:
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            wall = time.monotonic() - t0
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if proc.returncode or not result["correct"]:
                print(f"{w} seed {seed}: failed run: {proc.stdout}")
                return 1
            for name, v in result["metrics"].items():
                values[w][name].append(v["value"])
            print(f"{w} seed {seed} ({wall:.0f} s): " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                flush=True)
    ok = True
    for w in workloads:
        for m in bench["end_to_end"]:
            xs = values[w][m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            within = spread <= m["bound"]
            if m["name"] != "setup_s":
                ok &= within
            print(f"{w} {m['name']}: median {med:.4g} {m['unit']} "
                  f"Q1 {q1:.4g} Q3 {q3:.4g} spread {spread:.3f} "
                  f"bound {m['bound']} "
                  f"{'ok' if within else 'OVER'}"
                  f"{'' if spread < m['bound'] / 3 else ' (above a third)'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
