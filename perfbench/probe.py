#!/usr/bin/env python3
"""Measure every gate of the workloads' operator modules: its warm time
and its oracle verdict. Writes perfbench/gate_costs.json, from which
run.stratified_pool draws each workload's pool.

Usage: python3 perfbench/probe.py [--out perfbench/gate_costs.json]

One JVM per workload on the benchmark's tables, one client: set-up
round 1 (cold, writing each output for tools/check.py), round 2 (warm,
noop write) and one timed pass (warm, noop write). A gate's `warm_s` is
the mean of its two warm times. On 4 cores it takes about 10 minutes.
"""
import argparse
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

TIMEOUT_S = 1800


def gate_names(classes):
    import subprocess
    cmd = run.java_command(classes, ["--list-gates"], False)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       env=run.jvm_env(), cwd=os.path.join(run.WORK, "tmp"), timeout=120)
    if r.returncode != 0:
        raise run.BenchError(f"--list-gates: JVM exited with {r.returncode}")
    return r.stdout.split()


def probe(classes, sf_dir, workload, gates):
    d = os.path.join(run.WORK, "probe", workload)
    os.makedirs(d, exist_ok=True)
    sched = os.path.join(d, "schedule.txt")
    with open(sched, "w") as fh:
        fh.write(" ".join(gates) + "\n")
    out = os.path.join(d, "spans.json")
    args = ["--sf-dir", sf_dir, "--pool", ",".join(gates), "--schedule", sched, "--cpus",
            str(len(os.sched_getaffinity(0))), "--seconds", "1", "--min-passes", "1",
            "--max-seconds", str(TIMEOUT_S), "--rounds", "2", "--trace", "0",
            "--dump-dir", os.path.join(d, "dump"), "--out", out, "--inject", ""]
    run.run_jvm(run.java_command(classes, args, False), run.jvm_env(), os.path.join(d, "jvm.log"),
                timeout=TIMEOUT_S)
    with open(out) as fh:
        res = json.load(fh)
    bad = run.check_outputs(res, sf_dir, os.path.join(d, "dump"))
    timed = {e[2]: e[5] - e[3] for e in res["phases"][0]["execs"] if not e[8]}
    return {g: {"module": run.module_of(g),
                "warm_s": round(statistics.fmean([res["setup_gate_s"][1][g], timed.get(g, res["setup_gate_s"][1][g])]), 4),
                "oracle": "PASS" if g not in bad else "FAIL " + bad[g][:200]}
            for g in gates}


def main(argv):
    ap = argparse.ArgumentParser(description="measure the gates of the workloads' modules")
    ap.add_argument("--out", default=run.GATE_COSTS)
    a = ap.parse_args(argv)
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    classes = build.build()
    sf_dir = run.tables_dir()
    names = gate_names(classes)
    gates = {}
    for workload, wl in sorted(run.WORKLOADS.items()):
        mine = [g for g in names if run.MODULES.get(re.match(r"[a-z]*", g).group(0)) in wl["modules"]]
        gates.update(probe(classes, sf_dir, workload, sorted(mine)))
        print(f"{workload}: {len(mine)} gates", file=sys.stderr, flush=True)
    with open("/proc/cpuinfo") as fh:
        cpu = next((l.split(":", 1)[1].strip() for l in fh if l.startswith("model name")), "unknown")
    with open(a.out, "w") as fh:
        json.dump({"sf": run.SF, "nproc": len(os.sched_getaffinity(0)), "cpu": cpu, "clients": 1,
                   "gates": dict(sorted(gates.items()))}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (run.BenchError, build.CompileError) as e:
        print(f"probe: {e}", file=sys.stderr)
        sys.exit(2)
