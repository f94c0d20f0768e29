#!/usr/bin/env python3
"""Steadiness check for the benchmark.

  python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--seed 1]
                              [--second-seed 1001] [--vary-seed] [--seconds 10]

Runs each workload `--runs` times on one seed (or, with --vary-seed, on
seeds seed, seed+1, ...) and once on a second seed, then prints for every
end-to-end metric the median, quartiles, spread ((q3 - q1) / median),
min and max, and the second-seed value. Raw results are written to
.bench_out/steady_<workloads>.json. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT = ["claims_etl", "curation", "event_stream"]  # the workloads BENCHMARK.json registers


def one(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    try:
        r = json.loads(last)
    except ValueError:
        r = {}
    r["exit"] = p.returncode
    return r


def summarize(runs):
    metrics = sorted({k for r in runs for k in r.get("metrics", {})})
    out = {}
    for m in metrics:
        v = [r["metrics"][m]["value"] for r in runs if m in r.get("metrics", {})]
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        out[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
                  "min": min(v), "max": max(v), "n": len(v)}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(DEFAULT))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--second-seed", type=int, default=1001)
    ap.add_argument("--vary-seed", action="store_true")
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.seed + i if a.vary_seed else a.seed
            r = one(w, seed, a.seconds)
            runs.append(r)
            print(f"{w} seed {seed}: exit {r['exit']} correct {r.get('correct')}", flush=True)
        second = one(w, a.second_seed, a.seconds)
        stats = summarize(runs)
        report[w] = {"runs": runs, "second_seed": second, "stats": stats}
        print(f"\n{w}: {a.runs} runs, {'seeds from' if a.vary_seed else 'seed'} {a.seed}; "
              f"second seed {a.second_seed}")
        print(f"  {'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>8}"
              f"{'min':>12}{'max':>12}{'2nd seed':>12}")
        for m, s in stats.items():
            sv = second.get("metrics", {}).get(m, {}).get("value", float("nan"))
            print(f"  {m:<16}{s['median']:>12.4g}{s['q1']:>12.4g}{s['q3']:>12.4g}"
                  f"{s['spread']:>8.3f}{s['min']:>12.4g}{s['max']:>12.4g}{sv:>12.4g}")
        failed = [r for r in runs + [second] if r["exit"] != 0 or not r.get("correct")]
        if failed:
            print(f"  {len(failed)} run(s) failed or were incorrect")
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".bench_out", f"steady_{a.workloads.replace(',', '_')}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nraw results: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
