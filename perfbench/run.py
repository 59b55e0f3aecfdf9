#!/usr/bin/env python3
"""graft benchmark: closed-loop gate workloads, materialized in full.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), checks the input
tables (perfbench/tables), then starts one JVM that builds the session
through `graft.GraftSession`, runs the set-up rounds and the timed
closed loop over the workload's gate pool (perfbench/scala), and checks
every output against its DuckDB oracle with tools/check.py. The last
line of stdout is one JSON object: `{"correct", "attempted", "failed",
"metrics"}`. With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones.
The exit status is 0 only when every output was correct.
See perfbench/README.md for the metric catalogue.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
WORK = build.WORK
# the repository's correctness gate; the benchmark's oracle check runs it
CHECK = os.path.join(ROOT, "tools", "check.py")

# input of every workload: a byte-for-byte copy of the repository's test
# tables at this scale factor (TESTDATA.md), kept in the benchmark's own
# directory because a run reads nothing outside its checkout
SF = 0.01
TABLES = os.path.join(HERE, "tables", f"sf{SF}")
# per-gate warm times measured by perfbench/probe.py; the pools are drawn
# from them by stratified_pool
GATE_COSTS = os.path.join(HERE, "gate_costs.json")
# set-up rounds per run; setup_s is their median, which for two rounds is
# their mean. A traced run adds one, so that two warm rounds (the census)
# can be compared
ROUNDS = 2
# the timed phase runs past --seconds until each client completed enough
# whole passes for this many executions, so that ten samples lie beyond
# the 90th percentile
MIN_SAMPLES = 100
MAX_TIMED_S = 100
# share of CPU time stolen by the hypervisor above which a run is labelled
# contended, as is a run whose 1-minute load exceeds nproc
STEAL_CONTENDED = 0.02
XMX = "2g"
# a run that finishes later than this is killed and fails
JVM_TIMEOUT_S = 170

# gate-name prefix -> operator module under src/main/scala/graft/operators
MODULES = {
    "s": "Connector", "q": "Relational", "ca": "ChannelMetrics", "yf": "YtFormats",
    "tw": "TimeWindows", "la": "LogAnalytics", "st": "StreamGates", "ob": "Observability",
}

# workload -> client threads, the operator modules its pool is drawn from,
# and the parameters of stratified_pool
WORKLOADS = {
    "yt_interactive": {
        "clients": 2,
        "modules": ["Connector", "Relational", "ChannelMetrics", "YtFormats", "TimeWindows"],
        "per_pick": 30, "cheapest": 1.0,
    },
    "lake_writes": {
        "clients": 2,
        "modules": ["LogAnalytics", "StreamGates", "Observability"],
        "per_pick": 26, "cheapest": 0.1,
    },
}

# gates that write a fixed path and catalog name (TmpDirs.reclaimAtExit
# in graft/operators/Relational.scala), so two executions of one of them
# that overlap break each other: q10 failed with TABLE_OR_VIEW_NOT_FOUND
# for graft_q10_customer when both clients ran it at once. Left out of
# every pool.
SELF_OVERLAP_UNSAFE = {"q10_bucketed_join", "q15_summary_rewrite"}

END_TO_END = [("setup_s", "s"), ("qps", "1/s"), ("query_p50_s", "s"), ("query_p90_s", "s")]


class BenchError(Exception):
    """A run that cannot produce trustworthy numbers; exit status 2."""


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def module_of(gate: str) -> str:
    prefix = re.match(r"[a-z]*", gate).group(0)
    if prefix not in MODULES:
        raise BenchError(f"gate {gate}: no operator module for prefix '{prefix}'")
    return MODULES[prefix]


def stratified_pool(costs, modules, per_pick, cheapest=1.0):
    """A workload's gate pool, drawn from measured costs by a fixed rule.
    `costs` maps each gate to (module, warm seconds). Each module's gates
    are sorted by cost, and the cheapest `cheapest` share of them (n
    gates, rounded up) is cut into k = ceil(n / per_pick) strata of equal
    count; the pool takes the middle gate of each stratum, rank
    floor((i + 0.5) * n / k) for i < k. With `cheapest` = 1 each module
    is represented in proportion to its gate count, across its range of
    cost; a smaller share leaves its most expensive gates out."""
    pool = []
    for mod in modules:
        ranked = sorted((c, g) for g, (m, c) in costs.items() if m == mod)
        if not ranked:
            raise BenchError(f"{GATE_COSTS}: no measured gate of module {mod}")
        n = math.ceil(cheapest * len(ranked))
        k = math.ceil(n / per_pick)
        pool += [ranked[int((i + 0.5) * n / k)][1] for i in range(k)]
    return sorted(pool)


def load_costs(path=GATE_COSTS):
    """{gate: (module, warm seconds)} of the gates that passed their
    oracle when measured and may overlap with themselves; the others
    cannot be timed in a closed loop of several clients."""
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError) as e:
        raise BenchError(f"{path}: {e}")
    return {g: (v["module"], v["warm_s"]) for g, v in data["gates"].items()
            if v["oracle"] == "PASS" and g not in SELF_OVERLAP_UNSAFE}


def schedule(seed: int, workload: str, pool, clients: int, passes: int):
    """Each client's gate sequence: its own seed-drawn permutation of the
    pool, pass after pass. A function of its arguments only."""
    out = []
    for c in range(clients):
        rng = random.Random(f"{seed}:{workload}:{c}")
        seq = []
        for _ in range(passes):
            p = sorted(pool)
            rng.shuffle(p)
            seq.extend(p)
        out.append(seq)
    return out


def p90_with_samples(samples):
    """90th percentile by nearest rank, and the number of samples above
    its rank. Refuses when fewer than ten samples lie beyond it."""
    n = len(samples)
    rank = math.ceil(0.9 * n)
    beyond = n - rank
    if beyond < 10:
        raise BenchError(f"query_p90_s: only {beyond} of {n} samples lie beyond the 90th "
                         "percentile, at least 10 are needed; measure longer")
    return sorted(samples)[rank - 1], beyond


def positive_int_env(name: str):
    v = os.environ.get(name)
    if v is None or v == "":
        return None
    if not v.isdigit() or int(v) < 1:
        raise BenchError(f"{name}: expected a positive integer, got {v!r}")
    return int(v)


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v[:8])


def git_rev():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or "none"


def tables_dir(path=TABLES) -> str:
    """The input tables, after checking every file against SHA256SUMS."""
    sums = os.path.join(path, "SHA256SUMS")
    try:
        with open(sums) as fh:
            listed = [line.split() for line in fh if line.strip()]
        for digest, name in listed:
            with open(os.path.join(path, name), "rb") as fh:
                if hashlib.sha256(fh.read()).hexdigest() != digest:
                    raise BenchError(f"{path}/{name}: content differs from SHA256SUMS")
    except OSError as e:
        raise BenchError(f"input tables: {e}")
    return path


def java_command(classes: str, args, trace: bool):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    qe = "perfbench.RowsListener" + (",perfbench.TraceQeListener" if trace else "")
    props = {
        "java.io.tmpdir": tmp,
        "derby.system.home": tmp,
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.queryExecutionListeners": qe,
    }
    if trace:
        props["spark.sql.streaming.streamingQueryListeners"] = "perfbench.TraceStreamListener"
    cmd = [build.java(), f"-Xmx{XMX}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main"]
    return cmd + args


def jvm_env():
    """The caller's environment without its SPARK_GRAFT_* variables; the
    gates' scratch files go under the work directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(WORK, "tmp", "scratch")
    return env


def run_jvm(cmd, env, log_path, timeout=JVM_TIMEOUT_S):
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                             cwd=os.path.join(WORK, "tmp"), start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"JVM exceeded {timeout} s; log: {log_path}")
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"JVM exited with {rc}; log tail:\n{tail}")


def check_outputs(res, sf_dir, dump_dir):
    """Oracle check of every pool gate's set-up output by the repository's
    correctness gate, tools/check.py, run on the dump directory. Returns
    {gate: reason} for each gate that failed set-up or its oracle."""
    bad = dict(res["setup_errors"])
    if not os.path.isfile(CHECK):
        raise BenchError(f"tools/check.py: missing under {ROOT}")
    os.makedirs(dump_dir, exist_ok=True)
    with open(os.path.join(dump_dir, "oracle_sql.json"), "w") as fh:
        json.dump(res["oracle"], fh)
    r = subprocess.run([sys.executable, CHECK, sf_dir, dump_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(\S+): (PASS rows=(\d+)|FAIL\s+(.*)|NO-ORACLE.*)$", line)
        if m:
            verdicts[m.group(1)] = (int(m.group(3)), None) if m.group(3) else (-1, m.group(4))
    for gate, expected_rows in res["setup_rows"].items():
        if gate in bad:
            continue
        rows, why = verdicts.get(gate, (-1, "tools/check.py gave no verdict: " + r.stderr[-500:]))
        if gate not in res["oracle"]:
            why = "no oracle SQL; every pool gate needs one"
        elif why is None and rows != expected_rows:
            why = f"noop write produced {expected_rows} rows, the dump {rows}"
        if why:
            bad[gate] = why
    return bad


def tally_execs(res, bad_gates):
    """Splits the timed executions into samples and failures. An execution
    fails when it threw, when its row count differs from set-up, or when
    its gate failed the oracle check."""
    out = []
    for ph in res["phases"]:
        ok, failed = [], []
        for (eid, client, gate, t0, t1, t2, rows, eager_s, err) in ph["execs"]:
            e = {"id": eid, "client": client, "gate": gate, "t0": t0, "t1": t1, "t2": t2,
                 "rows": rows, "eager_s": eager_s, "error": err}
            if err:
                failed.append((e, err))
            elif gate in bad_gates:
                failed.append((e, f"wrong result: {bad_gates[gate]}"))
            elif rows != res["setup_rows"][gate]:
                failed.append((e, f"rows {rows}, set-up produced {res['setup_rows'][gate]}"))
            else:
                ok.append(e)
        out.append((ph, ok, failed))
    return out


def qps(phase, ok):
    return len(ok) / phase["window_s"]


def end_to_end(res, phases):
    ph, ok, _ = phases[0]
    lat = [e["t2"] - e["t0"] for e in ok]
    if not lat:
        raise BenchError("no execution completed in the timed phase")
    p90, beyond = p90_with_samples(lat)
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "qps": qps(ph, ok),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": p90,
    }, {"samples": len(lat), "beyond_p90": beyond}


def memory(res):
    """Peak RSS of the JVM (VmHWM) and the program's peak heap use, in MB."""
    return {"peak_rss_mb": res["vmhwm_kb"] / 1024.0, "peak_heap_mb": res["heap_peak_b"] / 2**20}


COUNTED = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "plans.executions",
           "operators.eager_jobs", "streaming.batches"]


def per_layer(res, phases):
    """Per-layer metrics of the traced run. Counts and bytes are per
    warm pass over the pool (the last set-up round); times are means per
    execution of the traced segment of the timed phase."""
    census, prev = res["census"][-1], res["census"][-2]
    (ph0, ok0, _), (ph1, ok1, _), (ph2, ok2, _) = phases
    tally = ph1["tally"]
    n = max(1, len(ok1))
    c = lambda k: census.get(k, 0.0)  # noqa: E731
    t = lambda k: tally.get(k, 0.0) / n  # noqa: E731
    rows_out = sum(v for v in res["setup_rows"].values() if v > 0)
    m = {
        "session.start_s": (res["session_s"][0], "s"),
        **{f"jvm.{k}": (v, "MB") for k, v in memory(res).items()},
        "operators.build_s": (statistics.fmean(
            [max(0.0, e["t1"] - e["t0"] - e["eager_s"]) for e in ok1]) if ok1 else 0.0, "s"),
        "operators.eager_jobs": (c("operators.eager_jobs"), "count"),
    }
    for mod in sorted(set(MODULES.values())):
        mine = [e for e in ok1 if module_of(e["gate"]) == mod]
        m[f"operators.{mod}.build_s"] = (statistics.fmean([e["t1"] - e["t0"] for e in mine]) if mine else 0.0, "s")
        m[f"operators.{mod}.exec_s"] = (statistics.fmean([e["t2"] - e["t1"] for e in mine]) if mine else 0.0, "s")
    m.update({
        "plans.analysis_s": (t("plans.analysis_s"), "s"),
        "plans.optimization_s": (t("plans.optimization_s"), "s"),
        "plans.planning_s": (t("plans.planning_s"), "s"),
        "plans.executions": (c("plans.executions"), "count"),
        "scheduler.jobs": (c("scheduler.jobs"), "count"),
        "scheduler.stages": (c("scheduler.stages"), "count"),
        "scheduler.tasks": (c("scheduler.tasks"), "count"),
        "scheduler.task_wait_s": (t("scheduler.task_wait_s"), "s"),
        "exec.task_s": (t("exec.task_s"), "s"),
        "exec.cpu_s": (t("exec.cpu_s"), "s"),
        "exec.gc_s": (t("exec.gc_s"), "s"),
        "exec.shuffle_write_mb": (c("exec.shuffle_write_b") / 1e6, "MB"),
        "exec.shuffle_read_mb": (c("exec.shuffle_read_b") / 1e6, "MB"),
        "exec.spill_mb": (c("exec.spill_b") / 1e6, "MB"),
        "exec.task_retries": (tally.get("exec.task_retries", 0.0), "count"),
        "exec.useful_task_ratio": (tally.get("exec.task_ok", 0.0) / max(1.0, tally.get("exec.task_ends", 0.0)), "ratio"),
        "sources.input_mb": (c("sources.input_b") / 1e6, "MB"),
        "sources.input_rows": (c("sources.input_rows"), "count"),
        "sources.rows_per_row_out": (c("sources.input_rows") / max(1, rows_out), "ratio"),
        "sink.output_mb": (c("sink.output_b") / 1e6, "MB"),
        "sink.output_rows": (c("sink.output_rows"), "count"),
        "streaming.batches": (c("streaming.batches"), "count"),
        "streaming.batch_p50_ms": (tally.get("streaming.batch_p50_ms", 0.0), "ms"),
        "streaming.batch_p90_ms": (tally.get("streaming.batch_p90_ms", 0.0), "ms"),
        "streaming.add_batch_s": (t("streaming.add_batch_s"), "s"),
        "streaming.wal_commit_s": (t("streaming.wal_commit_s"), "s"),
        "streaming.commit_offsets_s": (t("streaming.commit_offsets_s"), "s"),
        "streaming.query_planning_s": (t("streaming.query_planning_s"), "s"),
        "trace.overhead": ((qps(ph0, ok0) + qps(ph2, ok2)) / 2 / max(1e-9, qps(ph1, ok1)), "ratio"),
        "trace.counts_repeat": (float(all(census.get(k) == prev.get(k) for k in COUNTED)), "bool"),
    })
    return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--inject", default="",
                    help="testing only: fail:<gate> or wrong:<gate>, comma-separated")
    a = ap.parse_args(argv)
    if a.seed < 0:
        ap.error(f"--seed: must be >= 0, got {a.seed}")
    if not 1 <= a.seconds <= 120:
        ap.error(f"--seconds: must be within [1, 120], got {a.seconds}")
    return a


def main(argv):
    a = parse_args(argv)
    wl = WORKLOADS[a.workload]
    graft_cpus = positive_int_env("SPARK_GRAFT_CPUS")
    nproc = len(os.sched_getaffinity(0))
    # the JVM's temp files, Spark local dirs and gate scratch of the last run
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    for d in ("tmp", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    classes = build.build()
    sf_dir = tables_dir()
    pool = stratified_pool(load_costs(), wl["modules"], wl["per_pick"], wl["cheapest"])

    run_id = f"{a.workload}_s{a.seed}_t{a.trace}"
    run_dir = os.path.join(WORK, "runs", run_id)
    dump_dir = os.path.join(run_dir, "dump")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sched = schedule(a.seed, a.workload, pool, wl["clients"], passes=200)
    sched_file = os.path.join(run_dir, "schedule.txt")
    with open(sched_file, "w") as fh:
        fh.write("\n".join(" ".join(s) for s in sched) + "\n")
    result_file = os.path.join(run_dir, "spans.json")
    args = ["--sf-dir", sf_dir, "--pool", ",".join(sorted(pool)), "--schedule", sched_file,
            "--cpus", str(nproc), "--seconds", str(a.seconds),
            "--min-passes", str(math.ceil(MIN_SAMPLES / (wl["clients"] * len(pool)))),
            "--max-seconds", str(max(a.seconds, MAX_TIMED_S)), "--rounds", str(ROUNDS + a.trace),
            "--trace", str(a.trace), "--dump-dir", dump_dir, "--out", result_file,
            "--inject", a.inject]
    load_before, cpu_before = loadavg(), cpu_times()
    run_jvm(java_command(classes, args, a.trace == 1), jvm_env(), os.path.join(run_dir, "jvm.log"))
    load_after, cpu_after = loadavg(), cpu_times()
    # CPU time the hypervisor gave to other guests while the JVM ran
    steal = (cpu_after[0] - cpu_before[0]) / max(1, cpu_after[1] - cpu_before[1])
    with open(result_file) as fh:
        res = json.load(fh)

    bad_gates = check_outputs(res, sf_dir, dump_dir)
    phases = tally_execs(res, bad_gates)
    attempted = sum(len(ok) + len(f) for _, ok, f in phases)
    failed = sum(len(f) for _, _, f in phases)
    if attempted == 0:
        raise BenchError("no execution was attempted in the timed phase")
    for gate, why in sorted(bad_gates.items()):
        log(f"FAIL gate {gate}: {why}")
    for _, _, f in phases:
        for e, why in f[:20]:
            log(f"FAIL execution {e['id']} of {e['gate']}: {why}")
    correct = failed == 0 and not bad_gates

    e2e_note = {}
    try:
        if a.trace:
            metrics = per_layer(res, phases)
        else:
            e2e, e2e_note = end_to_end(res, phases)
            metrics = {k: (e2e[k], unit) for k, unit in END_TO_END}
    except BenchError:
        if correct:
            raise
        metrics = {}  # the failures above are the result of this run
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "clients": wl["clients"], "pool": sorted(pool), "sf": SF, "sf_dir": sf_dir,
        "nproc": nproc, "SPARK_GRAFT_CPUS": graft_cpus, "xmx": XMX,
        "spark_version": res["spark_version"], "git_rev": git_rev(),
        "loadavg_before": load_before, "loadavg_after": load_after, "steal_share": steal,
        "contended": max(load_before[0], load_after[0]) > nproc or steal > STEAL_CONTENDED,
        "failed_ratio": failed / max(1, attempted), **e2e_note, **memory(res),
    }
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump({"context": context, **out}, fh, indent=1)
    log("context " + json.dumps(context))
    for k, (v, u) in metrics.items():
        log(f"{k} = {v:.6g} {u}")
    log(f"failed_ratio = {context['failed_ratio']:.6g} ratio ({failed} of {attempted})")
    log(f"peak_rss_mb = {context['peak_rss_mb']:.6g} MB")
    print(json.dumps(out))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, build.CompileError) as e:
        log(f"perfbench: {e}")
        sys.exit(2)
