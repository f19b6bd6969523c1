#!/usr/bin/env python3
"""Runs one workload of graft's benchmark and prints its metrics.

    python3 perfbench/run.py --workload dsarray_ml --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds graft and the harness
from source with sbt (about 90 s); later runs reuse the build until a
source file changes. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything
the run writes stays under .bench_build/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen_tables
import metrics
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
ORACLE_RESERVE_S = 25

# workload -> scale factor of the generated star-schema tables (None: none)
WORKLOADS = {"dsarray_ml": None, "graph_gates": 0.01}

# the JVM options graft's own build gives its mains (build.sbt javaOptions)
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "--add-modules=jdk.incubator.vector", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC", "-Xmx4g", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.retainedJobs=100", "-Dspark.ui.retainedStages=100",
    "-Dspark.ui.retainedTasks=5000", "-Dspark.sql.ui.retainedExecutions=20",
    # keep the JVM's perf-data file out of the shared temp directory
    "-XX:-UsePerfData"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, fs in os.walk(r):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(src_hash):
    """Compiles graft and the harness; returns the runtime classpath."""
    stamp = os.path.join(WORK, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["source_hash"] == src_hash:
            return cached["classpath"]
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       timeout=800, cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT)
    with open(log_path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        log("build failed; see .bench_build/perfbench/build.log")
        sys.exit(3)
    with open(stamp, "w") as fh:
        json.dump({"source_hash": src_hash, "classpath": lines[-1]}, fh)
    return lines[-1]


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the whole group
    and waits for it, so no child outlives the run. Returns the exit code,
    or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return None


def cpu_count():
    return len(os.sched_getaffinity(0))


def fmt(v):
    return f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft's sources (src/main/scala/graft) are missing; run from a full checkout")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    src_hash = source_hash()
    classpath = build(src_hash)
    started = time.monotonic()  # the run's time limit excludes the one-off build

    run_dir = os.path.join(WORK, f"run-{a.workload}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "tables")
    os.makedirs(os.path.join(run_dir, "tmp"))
    sf = WORKLOADS[a.workload]
    if sf is not None:
        gen_tables.generate(data_dir, sf, a.seed)
    cpus = cpu_count()
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath,
           "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace), str(cpus),
           data_dir, run_dir, os.path.join(BENCH, "gates.txt")]
    jvm_budget = RUN_LIMIT_S - ORACLE_RESERVE_S - (time.monotonic() - started)
    ticks0 = cpu_ticks()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        rc = run_group(cmd, timeout=max(jvm_budget, 30), cwd=ROOT, stdout=jlog,
                       stderr=subprocess.STDOUT)
    if rc is None:
        log(f"the JVM ran past {jvm_budget:.0f} s and was stopped")
        sys.exit(4)
    ticks1 = cpu_ticks()
    raw_path = os.path.join(run_dir, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        log(f"the JVM exited with {rc}; see {run_dir}/jvm.log")
        sys.exit(5)
    with open(raw_path) as fh:
        raw = json.load(fh)

    bad_gates = {}
    if raw["oracles"]:
        bad_gates = oracle.mismatches(data_dir, os.path.join(run_dir, "gates"), raw["oracles"],
                                      cpus, os.path.join(run_dir, "tmp"))
    gate_of = {"kcore": "q_kcore"}
    attempted = failed = 0
    for p in raw["passes"]:
        for op in p["ops"]:
            attempted += 1
            gate = gate_of.get(op["name"], op["name"])
            if op["error"] is None and gate in bad_gates:
                op["error"] = f"oracle mismatch: {bad_gates[gate]}"
            failed += op["error"] is not None
    for g, why in sorted(bad_gates.items()):
        log(f"{g} disagrees with its oracle: {why}")

    stamp = dict(raw["stamp"], workload=a.workload, seed=a.seed, git_commit=git_commit(),
                 source_sha256=src_hash, tables_sf=sf)
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # share of the machine's CPU time the hypervisor took away while the
        # JVM ran: recorded to explain slow runs, never acted on
        stamp["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    n_passes = len(raw["passes"])
    print(f"# perfbench workload={a.workload} seed={a.seed} trace={a.trace} cpus={cpus} "
          f"passes={n_passes} steady={n_passes - 1} attempted={attempted} failed={failed} "
          f"failed_ratio={failed / attempted:.4f}")
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    per_op = metrics.steady_calls(raw)
    for name, ts in sorted(per_op.items()):
        print(f"# op {name} median_s={fmt(statistics.median(ts))} samples={len(ts)}")
    calls = [t for ts in per_op.values() for t in ts]
    tail = metrics.tail_percentile(calls)
    if tail:
        print(f"# op tail: p{tail[0]:.1f} = {fmt(tail[1])} s over {len(calls)} calls")

    if a.trace == 0:
        values = metrics.end_to_end(raw)
        units = dict(metrics.END_TO_END)
    else:
        values, jobs = metrics.per_layer(raw)
        units = dict(metrics.per_layer_names())
        print(f"# tracing overhead {fmt(values['run.trace_overhead'])}x; unattributed job time "
              f"{fmt(jobs['unattributed_job_s'])} s of {fmt(jobs['job_s'])} s")
        write_spans(raw, os.path.join(run_dir, "spans.jsonl"))
    for name, unit in units.items():
        print(f"{name} {fmt(values[name])} {unit}")
    shutil.rmtree(data_dir, ignore_errors=True)
    for d in ("spark-local", "checkpoints", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()}}))


def write_spans(raw, path):
    """Writes the run → pass → op → job → stage span chain, one per line."""
    run_id = f"{raw['workload']}-{raw['seed']}-{raw['setup']['jvm_start_ms']}"
    ev = raw["trace_events"]
    with open(path, "w") as fh:
        def span(**kw):
            fh.write(json.dumps(dict(kw, run=run_id)) + "\n")
        passes = raw["passes"]
        span(id="run", parent=None, name=raw["workload"],
             start_ms=passes[0]["ops"][0]["start_ms"], end_ms=passes[-1]["ops"][-1]["end_ms"])
        for p in passes:
            span(id=f"p{p['index']}", parent="run", name=f"pass{p['index']}", traced=p["traced"],
                 start_ms=p["ops"][0]["start_ms"], end_ms=p["ops"][-1]["end_ms"])
            for op in p["ops"]:
                span(id=op["span"], parent=f"p{p['index']}", name=op["name"],
                     start_ms=op["start_ms"], end_ms=op["end_ms"])
        for j in ev["jobs"]:
            span(id=f"job{j['id']}", parent=j["span"] or None, name="job",
                 start_ms=j["start_ms"], end_ms=j["end_ms"])
        for s in ev["stages"]:
            span(id=f"stage{s['id']}", parent=f"job{s['job']}", name="stage",
                 start_ms=s["submit_ms"], end_ms=s["complete_ms"])


if __name__ == "__main__":
    main()
