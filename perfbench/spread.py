#!/usr/bin/env python3
"""Run one workload under several seeds and report, per metric, the
median and the spread (interquartile range over median, as
statistics.quantiles(values, n=4) gives the quartiles) next to the
metric's bound in BENCHMARK.json. With --sets 2 the same seeds run
twice, one set after the other, and each metric's second median is
compared with the first (positive = worse).

  python3 perfbench/spread.py --workload NAME [--runs 10] [--first-seed 1]
                              [--sets 1] [--trace 0|1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_set(a, spec) -> tuple:
    values, fails = {}, []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        fails.append((res["failed"], res["attempted"], res["correct"]))
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
            flush=True)
    print(f"failed/attempted/correct per run: {fails}")
    return values, fails


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    first = None
    for n in range(a.sets):
        print(f"== set {n + 1}", flush=True)
        values, fails = run_set(a, spec)
        share = sum(f for f, _, _ in fails) / sum(t for _, t, _ in fails)
        print(f"failed share {share}")
        medians = {}
        for k, vs in values.items():
            med = medians[k] = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med] * 3
            spread = (q[2] - q[0]) / med if med else float("nan")
            line = (f"{k:28s} median {med:14.6g}  spread {spread:7.4f}"
                    f"  bound {metrics[k].get('bound')}")
            if first is not None and first[k]:
                sign = 1 if metrics[k]["better"] == "lower" else -1
                line += f"  drift {sign * (med - first[k]) / first[k]:+.4f}"
            print(line, flush=True)
        first = first or medians
    return 0


if __name__ == "__main__":
    sys.exit(main())
