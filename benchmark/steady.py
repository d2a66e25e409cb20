#!/usr/bin/env python3
"""Steadiness check: two sets of runs of every workload, each run with its
own seed, then each end-to-end metric's spread and drift against its bound,
and the tracing overhead from one traced run per workload.

    python3 benchmark/steady.py

Per workload and metric it prints each set's median, the spread (distance
between the first and third quartile over the median), and how much worse
the second set's median is than the first's. A metric holds when both
spreads and the drift stay within its bound; the share of failed
operations must be identical in both sets. Raw results go to
.bench_build/steady.json.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS, RUNS = 2, 10


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed}: run.py exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    sec = spec["run_seconds"]
    raw = {}
    ok = True
    for w in names:
        sets = []
        for s in range(SETS):
            seeds = range(s * RUNS + 1, (s + 1) * RUNS + 1)
            sets.append([run(w, seed, sec, 0) for seed in seeds])
        raw[w] = {"sets": sets}
        print(f"== {w}")
        for res in sets:
            bad = [r for r in res if not r["correct"]]
            if bad:
                ok = False
                print(f"  {len(bad)} run(s) with failed output checks")
        shares = {sum(r["failed"] for r in res) / sum(r["attempted"] for r in res)
                  for res in sets}
        if len(shares) > 1:
            ok = False
        print(f"  failed share per set: {sorted(shares)}")
        for m in spec["end_to_end"]:
            n, bound = m["name"], m["bound"]
            vals = [[r["metrics"][n]["value"] for r in res] for res in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (meds[1] - meds[0]) / meds[0]
            held = drift <= bound and max(spreads) <= bound
            ok &= held
            print(f"  {n:12s} medians {['%.4g' % x for x in meds]} "
                  f"spread {['%.3f' % x for x in spreads]} "
                  f"worse-by {drift:+.3f} bound {bound} "
                  f"{'ok' if held else 'EXCEEDED'}")
        traced = run(w, 1, sec, 1)
        raw[w]["traced"] = traced
        untraced = statistics.median(
            r["metrics"]["job_s"]["value"] for res in sets for r in res)
        t = traced["metrics"]["traced.job_s"]["value"]
        print(f"  tracing overhead: traced job {t:.3f} s vs untraced "
              f"median {untraced:.3f} s ({t / untraced - 1:+.1%})")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as fh:
        json.dump(raw, fh)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
