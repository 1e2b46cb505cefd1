#!/usr/bin/env python3
"""graft's standing benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload query_mix|etl_cycle \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the benchmark
with sbt (once per source state), generates the workload's inputs from
the seed, runs the workload in one JVM on local[nproc], checks the
outputs apart from the program and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of
BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

# The ROADMAP headline queries that make up one query_mix round: a
# subset of the 38, because a first pass over all 38 costs about 45 s of
# JIT and codegen on 4 cores, more than a whole run can spend. It keeps
# the layers the headline set exercises: multi-table resolution, eager
# jobs (IVF fit, memoized counts), join-heavy Catalyst plans, windowed
# event queries, sketches, text, banded near-dup joins and vector search.
QUERY_MIX = [
    "q01_pricing_summary", "q03_order_enrich", "q17_region_revenue",
    "q15_latest_events", "q56_interval_merge", "dq23_hll_sketch",
    "tx02_text_quality", "tx06_near_dup_pairs", "mm09_image_phash_dedup",
    "sim05_ivf_ann", "mp03_fact_bars",
]
# `not_run`: the per-layer metrics (names or name prefixes) of layers the
# workload never enters; they read 0. Any other per-layer metric missing
# from a traced run is an error.
WORKLOADS = {
    # warm caches over a seeded sf0.01-sized fixture
    "query_mix": dict(queries=QUERY_MIX, warm_rounds=2,
                      sizes=dict(sf=0.01, n_docs=500, n_vecs=500),
                      not_run=("marketpulse.", "quality.", "step.dag_s",
                               "step.materialize_s", "step.quality_s")),
    # the MarketPulse daily cycle on the reference's ten tickers
    "etl_cycle": dict(warm_rounds=3,
                      sizes=dict(n_days=300, refetch_days=30, versions=24),
                      not_run=("sources.", "queries.", "dedup.")
                      + tuple(f"step.{q}_s" for q in QUERY_MIX)),
}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """The runtime classpath of the program plus the benchmark."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to perfbench/; run from a checkout of the repository")
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    # the build resolves nothing from the network: offline, as the
    # repository's own test command runs it
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def generate(workload, seed, input_dir):
    rng = np.random.default_rng(seed)
    sizes = WORKLOADS[workload]["sizes"]
    if workload == "query_mix":
        gen.fixture(input_dir, rng, **sizes)
    else:
        gen.provider_docs(input_dir, rng, **sizes)


def cpu_times():
    """(steal, total) jiffies of the machine, for the stolen-time note."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except OSError:
        return 0, 0


def run_jvm(cp, workload, input_dir, work, seconds, trace, t0, deadline):
    spec = WORKLOADS[workload]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--input", input_dir,
            "--work", work, "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--t0", str(int(t0 * 1000)), "--warm-rounds", str(spec["warm_rounds"])]
    if "queries" in spec:
        cmd += ["--queries", ",".join(spec["queries"])]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM (see main): never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"{workload} JVM exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def judge(workload, res, input_dir, seed, work):
    """(correct, failed op count, list of failure notes) for the timed ops."""
    ops = res["ops"]
    bad = [i for i, o in enumerate(ops) if o["error"]]
    notes = [ops[i]["error"] for i in bad]
    if workload == "etl_cycle":
        state_errors = check.etl(input_dir, res, seed, work)
        quality = res["quality"][-len(ops):]
        for i, outcome in enumerate(quality):
            why = check.quality(outcome)
            if why and i not in bad:
                bad.append(i)
                notes.append(f"cycle {i}: {why}")
        if state_errors:
            notes += state_errors[:5]
            bad = list(range(len(ops)))
    else:
        names = sorted({o["op"] for o in ops})
        verdict = check.oracles(input_dir, os.path.join(work, "out"), names, work)
        for n, why in sorted(verdict.items()):
            if why:
                notes.append(f"{n}: {why}")
                bad += [i for i, o in enumerate(ops) if o["op"] == n and i not in bad]
        for n, why in res.get("output_errors", {}).items():
            notes.append(f"{n}: output failed: {why}")
    return not notes, len(set(bad)), notes


def end_to_end(res):
    ops = res["ops"]
    times = [o["s"] for o in ops]
    steps = {}
    for o in ops:
        for k, v in o["steps"].items():
            steps.setdefault(k, []).append(v)
    medians = [statistics.median(v) for v in steps.values()]
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "op_p50_s": {"value": statistics.median(times), "unit": "s"},
        "ops_per_s": {"value": len(times) / sum(times), "unit": "1/s"},
        "step_geomean_s": {"value": math.exp(sum(math.log(m) for m in medians) / len(medians)),
                           "unit": "s"},
        "live_heap_bytes": {"value": res["live_heap_bytes"], "unit": "bytes"},
    }


def per_layer(workload, res):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    layers, not_run = res["layers"], WORKLOADS[workload]["not_run"]
    missing = [m["name"] for m in declared
               if m["name"] not in layers and not m["name"].startswith(not_run)]
    if missing:
        fail(f"{workload}: the traced run measured no {', '.join(missing)}")
    # a layer that does not run on this workload measured nothing: 0
    return {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
            for m in declared}


def log_run(a, res, gen_s, jvm_s, check_s, steal0, steal1):
    """Where a run's time went, on stderr (the result line stays last on stdout)."""
    def say(text):
        print(f"perfbench: {text}", file=sys.stderr)
    stolen = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    say(f"{a.workload} seed {a.seed}: generate {gen_s:.1f} s, jvm {jvm_s:.1f} s "
        f"(session {res['session_s']:.1f} s, landing {res['land_s']:.1f} s, warm-up rounds "
        f"{' '.join(f'{x:.1f}' for x in res['warm_round_s'])} s, {res['rounds']} timed rounds "
        f"in {res['timed_s']:.1f} s, outputs for checks {res['check_s']:.1f} s), checks "
        f"{check_s:.1f} s, CPU time stolen by the host {stolen:.1%}")
    say("warm-up ops " + " ".join(f"{n}={x:.2f}" for n, x in res["warm_ops"]))
    say("timed ops " + " ".join(f"{o['s']:.2f}" for o in res["ops"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    # the build is per source state, not per run: the run's time limit
    # counts from here
    started = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    try:
        generate(a.workload, a.seed, input_dir)
        # set-up is timed from here: JVM launch, session, landing and
        # warm-up; the benchmark's own input generation is left out
        t0 = time.time()
        steal0 = cpu_times()
        res = run_jvm(cp, a.workload, input_dir, work, a.seconds, a.trace, t0,
                      started + RUN_LIMIT_S)
        steal1 = cpu_times()
        t_jvm = time.time()
        correct, failed, notes = judge(a.workload, res, input_dir, a.seed, work)
        log_run(a, res, t0 - started, t_jvm - t0, time.time() - t_jvm, steal0, steal1)
        for n in notes:
            print(f"perfbench: check failed: {n}", file=sys.stderr)
        if a.trace:
            trace_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                     "perfbench", "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}.json"), "w") as f:
                json.dump({"layers": res["layers"], "spans": res["spans"],
                           "traced_end_to_end": end_to_end(res)}, f)
        metrics = per_layer(a.workload, res) if a.trace else end_to_end(res)
        print(json.dumps({"correct": correct, "attempted": len(res["ops"]),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
