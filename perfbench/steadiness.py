#!/usr/bin/env python3
"""Steadiness check: two independent sets of runs of the same commit.

    python3 perfbench/steadiness.py [--runs 10] [--workloads composite,tiles]

Run from the repository root. Each of the two sets runs every workload
`--runs` times, each run with its own seed (set 1 takes seeds 1..runs,
set 2 seeds runs+1..2*runs), untraced and for BENCHMARK.json's
`run_seconds`. For each end-to-end metric on each workload it prints each
set's median and quartiles, the quartile spread as a share of the median,
how much worse the second set's median is than the first's, and the
metric's bound. A metric passes when each set's spread and the median
shift, either way, stay within the bound; every run must be correct and
the share of failed ops must be equal in the two sets. Raw results go to
.bench_build/steadiness.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    context = [l for l in p.stderr.splitlines() if l.startswith('{"loadavg')]
    ctx = json.loads(context[-1]) if context else {}
    info = os.path.join(ROOT, ".bench_build", "out", workload, "run-info.json")
    if os.path.isfile(info):
        with open(info) as f:
            ctx["run_info"] = json.load(f)
    return json.loads(p.stdout.strip().splitlines()[-1]), ctx


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    results = {}  # (set, workload) -> [result]
    log = os.path.join(ROOT, ".bench_build", "steadiness.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "a") as out:
        for s in range(2):
            for i in range(a.runs):
                seed = 1 + s * a.runs + i
                for w in workloads:
                    r, ctx = run(w, seed, bench["run_seconds"])
                    results.setdefault((s, w), []).append(r)
                    out.write(json.dumps({"set": s + 1, "workload": w, "seed": seed,
                                          "result": r, "context": ctx}) + "\n")
                    out.flush()
                    print(f"set {s + 1} {w} seed {seed}: correct={r['correct']} "
                          f"attempted={r['attempted']} failed={r['failed']} " +
                          " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                          flush=True)

    ok = True
    print(f"\n{'workload/metric':28} {'set':>3} {'q1':>10} {'median':>10} {'q3':>10} "
          f"{'spread':>7} {'worse':>7} {'bound':>6}")
    for w in workloads:
        shares = {s: sum(r["failed"] for r in results[(s, w)]) / sum(r["attempted"] for r in results[(s, w)])
                  for s in range(2)}
        if len(set(shares.values())) > 1:
            ok = False
            print(f"{w}: failed share differs between sets: {shares}")
        if not all(r["correct"] for s in range(2) for r in results[(s, w)]):
            ok = False
            print(f"{w}: a run reported correct=false")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for s in range(2):
                q1, q2, q3, spread = summary([r["metrics"][name]["value"] for r in results[(s, w)]])
                meds.append(q2)
                worse = ""
                if s == 1:
                    d = (meds[1] - meds[0]) / meds[0]
                    d = d if m["better"] == "lower" else -d
                    worse = f"{d:+.3f}"
                    ok &= abs(d) <= bound
                ok &= spread <= bound
                print(f"{w + '/' + name:28} {s + 1:>3} {q1:>10.4g} {q2:>10.4g} {q3:>10.4g} "
                      f"{spread:>7.3f} {worse:>7} {bound:>6}")
    print("\nsteady within bounds" if ok else "\nNOT steady within bounds")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
