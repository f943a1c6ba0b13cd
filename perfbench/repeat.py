#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and print, per metric, the
median and quartiles against the bound in BENCHMARK.json.

Usage (from the root of a checkout):
  python3 perfbench/repeat.py --workload NAME [--seeds 1,2,...] [--trace 0|1]
      [--seconds S] [--out FILE] [--against FILE]

For each metric it prints the median, the first and third quartiles
(statistics.quantiles(values, n=4)) and the spread (Q3 - Q1) / median,
flagged when the spread is over the metric's bound or over a third of it.
It also checks that every run failed the same share of its operations.
--out appends every run's result line, as JSON, to FILE. --against FILE
reads such a file from an earlier set of runs of the same workload and
prints how far each median moved from that set's, in the metric's worse
direction, against its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_metrics(root):
    """{name: (bound or None, better)} and run_seconds from BENCHMARK.json."""
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            b = json.load(f)
    except OSError:
        return {}, 30
    m = {x["name"]: (x.get("bound"), x["better"])
         for x in b.get("end_to_end", []) + b.get("per_layer", [])}
    return m, b.get("run_seconds", 30)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    ap.add_argument("--against")
    a = ap.parse_args()
    root = os.getcwd()
    declared, run_seconds = load_metrics(root)
    bounds = {n: b for n, (b, _) in declared.items() if b is not None}
    seconds = a.seconds if a.seconds is not None else run_seconds
    here = os.path.dirname(os.path.abspath(__file__))
    results, shares = [], set()
    for seed in [int(s) for s in a.seeds.split(",")]:
        p = subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)],
                           capture_output=True, text=True, cwd=root)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed ({p.returncode})\n{p.stderr[-2000:]}")
            continue
        res = json.loads(lines[-1])
        report = json.loads(lines[-2]) if len(lines) > 1 else {}
        results.append(res)
        shares.add((res["failed"], res["attempted"]))
        summary = ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                            if k in bounds or a.trace == 0)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {summary if a.trace == 0 else ''}", flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "report": report,
                                    "result": res}) + "\n")
    if len(results) < 2:
        return
    ratios = {f"{f}/{t}" for f, t in shares}
    same = len({f / t for f, t in shares}) == 1
    print(f"failed share: {'identical' if same else 'DIFFERS'} across runs ({', '.join(sorted(ratios))})")
    names = sorted(results[0]["metrics"])
    medians = {}
    print(f"{'metric':<44} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for n in names:
        vals = [r["metrics"][n]["value"] for r in results if n in r["metrics"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        medians[n] = med
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(n)
        flag = ""
        if b is not None:
            flag = "OVER" if spread > b else ("> b/3" if spread > b / 3 else "ok")
        print(f"{n:<44} {med:>12.4g} {q1:>12.4g} {q3:>12.4g} {spread:>8.3f} "
              f"{'' if b is None else b:>6} {flag}")
    if a.against:
        with open(a.against) as f:
            earlier = [json.loads(x)["result"] for x in f if x.strip()]
        earlier = [r for r in earlier if r.get("metrics")]
        print(f"\nmedians against {a.against} ({len(earlier)} runs):")
        print(f"{'metric':<44} {'earlier':>12} {'now':>12} {'worse by':>9} {'bound':>6}")
        for n in names:
            vals = [r["metrics"][n]["value"] for r in earlier if n in r["metrics"]]
            if len(vals) < 2 or n not in declared:
                continue
            m1 = statistics.median(vals)
            better = declared[n][1]
            worse = ((medians[n] - m1) if better == "lower" else (m1 - medians[n])) / m1
            b = bounds.get(n)
            flag = "" if b is None else ("OVER" if worse > b else "ok")
            print(f"{n:<44} {m1:>12.4g} {medians[n]:>12.4g} {worse:>9.3f} "
                  f"{'' if b is None else b:>6} {flag}")


if __name__ == "__main__":
    main()
