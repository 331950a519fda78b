#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness from
source (once per source state, into .bench_build/), generates the
workload's inputs from the seed, runs the harness JVM, checks the
program's outputs and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Workloads: store_ingest, gate_mix (the ones BENCHMARK.json lists) and
store_dashboard (runs the same way; see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("store_ingest", "store_dashboard", "gate_mix")
CPUS = 4
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 660
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir):
    """Compile program and harness with sbt; return the runtime classpath."""
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        classpath = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), env=env, stdout=lf,
                stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if "perfbench" in ln and ln.startswith(os.sep)]
    if p.returncode != 0 or not cps:
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(classpath, run_dir, args, budget_s):
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-XX:ErrorFile={run_dir}/hs_err_pid%p.log",
        "-cp", classpath, "perfbench.Main"] + args
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log = f"{run_dir}/jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             env=dict(os.environ, PERFBENCH_CPUS=str(CPUS)))
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out; see {log}")
    if rc != 0:
        tail = open(log).read().splitlines()[-20:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited with {rc}; see {log}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the program (build.sbt and src/ not found)")
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    classpath = build(root, out_dir)

    t_start = time.time()
    run_dir = os.path.join(out_dir, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, res_dir = f"{run_dir}/input", f"{run_dir}/out"
    extra = []
    if a.workload == "store_ingest":
        gen.write_ingest(in_dir, a.seed)
    elif a.workload == "store_dashboard":
        gen.write_dashboard(in_dir, a.seed)
    else:
        gen.write_gate(in_dir, a.seed)
        extra = report.GATE_QUERIES
    budget = RUN_LIMIT_S - (time.time() - t_start)
    run_jvm(classpath, run_dir, [a.workload, in_dir, res_dir, str(a.seconds),
                                 str(a.trace)] + extra, budget)

    run = json.load(open(f"{res_dir}/run.json"))
    ops = report.read_ops(f"{res_dir}/ops.tsv")
    if not ops:
        fail("no operation completed in the timed window")
    if a.workload == "store_ingest":
        bad, problems = checks.check_ingest(a.seed, ops, run["warmup_written"],
                                            f"{res_dir}/store.tsv")
        run["points_stored"] = sum(run["warmup_written"]) + sum(o.get("written", 0) for o in ops)
    elif a.workload == "store_dashboard":
        bad, problems = checks.check_dashboard(a.seed, f"{res_dir}/answers.tsv")
        run["points_stored"] = sum(len(v) for v in gen.dashboard_points(a.seed).values())
    else:
        bad_q, problems = checks.check_gate(in_dir, f"{res_dir}/check", extra)
        bad = {i for i, o in enumerate(ops) if o["key"] in bad_q}
    failed_ops = bad | {i for i, o in enumerate(ops) if not o["ok"]}
    # a wrong result outside the timed operations (warm-up data, a query
    # that did not come round in the window) still fails one operation
    failed = min(len(ops), len(failed_ops) + (1 if problems and not failed_ops else 0))
    for p in problems[:20]:
        print(f"[perfbench] check: {p}", file=sys.stderr)

    e2e, tail_info = report.end_to_end(a.workload, ops, run)
    print(f"[perfbench] {a.workload} seed={a.seed} ops={len(ops)} "
          f"failed_ratio={failed / len(ops):.4f} latency tail: "
          f"p{tail_info['tail_percentile']} of {tail_info['samples']} samples "
          f"= {tail_info['tail_s']:.3f} s")
    walls = {}
    for o in ops:
        walls.setdefault(report.op_key(o), []).append((o["t1"] - o["t0"]) / 1e9)
    # every run is recorded for compare.py; untraced operation walls are the
    # reference a traced run measures its tracing overhead against
    results = os.path.join(out_dir, "results.jsonl")
    if a.trace:
        reference = {}
        if os.path.exists(results):
            for line in open(results):
                r = json.loads(line)
                if r["workload"] == a.workload and not r["trace"]:
                    for k, v in r["op_walls"].items():
                        reference.setdefault(k, []).extend(v)
        names = report.PER_LAYER + (report.READ_LAYER if a.workload == "store_dashboard" else [])
        layer, tags = report.per_layer(ops, run, f"{res_dir}/trace.tsv", CPUS, reference)
        if layer["trace.overhead_s"] is None:
            fail("no untraced operation to measure the tracing overhead against")
        earlier = any(report.op_key(o) in reference for o in ops if o["traced"])
        print(f"[perfbench] trace.overhead_s={layer['trace.overhead_s']:.3f} against "
              + ("earlier untraced runs" if earlier else "this run's untraced operations"))
        n_traced = max(1, sum(o["traced"] for o in ops))
        for t, (n, busy) in tags.items():
            print(f"[perfbench] tag {t:28s} jobs/op={n / n_traced:8.2f} busy_s/op={busy / n_traced:9.3f}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in names}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in report.END_TO_END}
    result = {"correct": not problems and failed == 0, "attempted": len(ops),
              "failed": failed, "metrics": metrics}
    with open(results, "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "result": result, "op_walls": walls}) + "\n")
    print(json.dumps(result))

if __name__ == "__main__":
    main()
