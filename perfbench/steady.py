#!/usr/bin/env python3
"""Steadiness check: does the benchmark measure the same code the same way?

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--trace-runs 0]

Runs two sets of runs of every workload in BENCHMARK.json, `runs` runs
per workload and set, each run with its own seed. For each (end-to-end
metric, workload) pair it prints, per set, the median, the first and
third quartiles (statistics.quantiles, n=4) and the spread
(q3 - q1) / median against the metric's bound. It then prints how far the
second set's median is from the first's, in the metric's worse
direction, and whether the failed share agrees. `--trace-runs N` adds N
traced runs per workload and reports the tracing overhead: traced
op_p50_s against untraced op_p50_s. Each run's result line is appended to
.bench_build/perfbench/steady.jsonl. Exits 1 if a check fails.
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
SETS = 2


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed with exit code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace-runs", type=int, default=0)
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    workloads = [w["name"] for w in bench["workloads"]]
    log_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(log_dir, exist_ok=True)
    results = {}  # (set, workload) -> [result]
    traced = {}
    seed = a.first_seed
    with open(os.path.join(log_dir, "steady.jsonl"), "a") as log:
        def record(which, w, trace):
            nonlocal seed
            t = time.time()
            r = run(w, seed, seconds, trace)
            log.write(json.dumps({"set": which, "workload": w, "seed": seed,
                                  "wall_s": time.time() - t, **r}) + "\n")
            log.flush()
            seed += 1
            return r

        for s in range(SETS):
            for w in workloads:
                results[(s, w)] = [record(s + 1, w, 0) for _ in range(a.runs)]
        for w in workloads:
            traced[w] = [record("trace", w, 1) for _ in range(a.trace_runs)]

    ok = True
    print(f"{'metric':<16} {'workload':<13} {'set':>3} {'median':>14} {'q1':>14} "
          f"{'q3':>14} {'spread':>7} {'bound':>6}  verdict")
    for m in bench["end_to_end"]:
        for w in workloads:
            meds = []
            for s in range(SETS):
                xs = [r["metrics"][m["name"]]["value"] for r in results[(s, w)]]
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med
                meds.append(med)
                good = spread <= m["bound"]
                ok &= good
                print(f"{m['name']:<16} {w:<13} {s + 1:>3} {med:>14.6g} {q1:>14.6g} {q3:>14.6g} "
                      f"{spread:>7.3f} {m['bound']:>6.2f}  {'ok' if good else 'TOO WIDE'}"
                      f"{'' if spread < m['bound'] / 3 else ' (above a third of the bound)'}")
            worse = (meds[1] - meds[0]) / meds[0]
            if m["better"] == "higher":
                worse = -worse
            good = worse <= m["bound"]
            ok &= good
            print(f"{'':<16} {w:<13} second median worse by {worse:+.3f} "
                  f"(bound {m['bound']:.2f}): {'ok' if good else 'REGRESSION'}")
    for w in workloads:
        shares = []
        for s in range(SETS):
            rs = results[(s, w)]
            shares.append(sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs))
            ok &= all(r["correct"] for r in rs)
        same = len(set(shares)) == 1
        ok &= same
        print(f"failed share {w}: {' / '.join(f'{x:.4f}' for x in shares)}"
              f"{'' if same else '  DIFFERS'}; all correct: "
              f"{all(r['correct'] for s in range(SETS) for r in results[(s, w)])}")
    for w, rs in traced.items():
        if not rs:
            continue
        t = statistics.median(r["metrics"]["trace.op_p50_s"]["value"] for r in rs)
        for s in range(SETS):
            u = statistics.median(r["metrics"]["op_p50_s"]["value"] for r in results[(s, w)])
            print(f"tracing overhead {w}: traced op_p50_s {t:.4f} s vs untraced set {s + 1} "
                  f"{u:.4f} s ({(t - u) / u:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
