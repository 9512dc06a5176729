#!/usr/bin/env python3
"""Run one workload n times, one seed each, and summarise every metric.

    python3 perfbench/repeat.py --workload live --runs 10 [--first-seed 1]
        [--trace 0] [--json out.json]

Each run measures for BENCHMARK.json's `run_seconds`.

For each metric it prints the median, the first and third quartiles (as
`statistics.quantiles(values, n=4)` gives them) and the relative spread
(Q3 - Q1) / median; the spread is what a metric's bound in BENCHMARK.json
is set against. Runs that fail, or report incorrect outputs, are listed
and make the exit code 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarise(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="also write the summary here")
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    metrics, units, bad, shares = {}, {}, [], []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        try:
            out = json.loads(lines[-1])
        except (IndexError, ValueError):
            out = None
        if p.returncode != 0 or out is None or not out["correct"]:
            bad.append((seed, p.returncode, p.stderr.strip().splitlines()[-3:]))
            print(f"seed {seed}: FAILED", file=sys.stderr)
            continue
        shares.append(out["failed"] / out["attempted"])
        for k, v in out["metrics"].items():
            metrics.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              file=sys.stderr)

    summary = {k: dict(summarise(v), unit=units[k]) for k, v in metrics.items()}
    print(f"{a.workload}: {a.runs} runs, {len(bad)} failed, failed-operation shares "
          f"{sorted(set(shares))}")
    print(f"{'metric':<34}{'unit':>8}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}")
    for k, s in summary.items():
        print(f"{k:<34}{s['unit']:>8}{s['median']:>12.4g}{s['q1']:>12.4g}{s['q3']:>12.4g}"
              f"{s['spread']:>9.3f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "runs": a.runs, "failed_runs": bad,
                       "failed_shares": shares, "metrics": summary}, f, indent=1)
    for seed, code, tail in bad:
        print(f"seed {seed} exit {code}: {' | '.join(tail)}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
