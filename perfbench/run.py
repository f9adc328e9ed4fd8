#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload relay-sync --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds graft together with the
harness (perfbench/build.sbt) and generates the benchmark's data set; both
are cached under .bench_build/. Each run starts a fresh harness JVM
(perfbench/src/main/scala/perfbench), which drives graft through its
public entry points and writes its measurements; this script then runs the
DuckDB correctness gate (perfbench/oracle.py) over the results the run
returned and prints one JSON line last:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones; the traced run also leaves its span
file in .bench_build/reports/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import gen_data  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("relay-sync", "pipeline-batch")
SCALE = 0.01
HEAP = "3g"
DEADLINE_S = 175
GATE_S = 15
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def declared(root):
    """End-to-end and per-layer metric units, as BENCHMARK.json declares
    them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp(root):
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, cache):
    """Compile graft and the harness once per source state; returns the
    runtime classpath and whether this call built."""
    stamp, cp_file = os.path.join(cache, "build.stamp"), os.path.join(cache, "classpath.txt")
    want = sources_stamp(root)
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read().strip(), False
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, and nothing written outside the checkout: sbt's server
    # sockets and the JVM's perf-data file would otherwise land in the
    # system temp directory
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Xmx2g") + " -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false")
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["TMPDIR"] = tmp
    log = os.path.join(cache, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env, timeout=840).returncode
    lines = open(log).read().splitlines()
    cps = [l for l in lines if l.count(":") > 3 and "/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(want)
    return cps[-1], True


def data_dir(cache):
    d = os.path.join(cache, "data", f"sf{SCALE}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, SCALE)
        open(os.path.join(d, "_done"), "w").close()
    return d


def run_jvm(cp, args, run_dir, data, budget):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseParallelGC",
        "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--out", run_dir]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness JVM exceeded {budget:.0f}s; log in {run_dir}/jvm.log")
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read().splitlines()[-15:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness JVM exited {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    cp, built = build(root, cache)
    data = data_dir(cache)

    run_dir = os.path.join(cache, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # a run must end within DEADLINE_S, or 900 s when it had to build first
    deadline = 900 if built else DEADLINE_S
    res = run_jvm(cp, args, run_dir, data, deadline - GATE_S - (time.time() - t_start))

    # correctness gate: after the timed window, outside every timing
    mismatched, names = oracle.gate(res, data)
    attempted = res["attempted"]
    failed = res["failed"] + mismatched
    m = dict(res["metrics"])
    e2e, per_layer = declared(root)
    reports = os.path.join(cache, "reports")
    os.makedirs(reports, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        m["failed_frac"] = failed / max(attempted, 1)
        metrics = {k: {"value": m[k], "unit": u} for k, u in per_layer.items()}
        shutil.copy(os.path.join(run_dir, "spans.json"), os.path.join(reports, f"{tag}-spans.json"))
    else:
        m["ok_frac"] = 1.0 - failed / max(attempted, 1)
        metrics = {k: {"value": m[k], "unit": u} for k, u in e2e.items()}
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "attempted": attempted, "failed": failed, "mismatches": names,
              "errors": res["errors"], "info": res["info"], "host": res["host"],
              "metrics": metrics}
    with open(os.path.join(reports, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in metrics.items():
        print(f"[perfbench] {args.workload} {k} = {v['value']:.6g} {v['unit']}")
    info = res["info"]
    if "samples" in info:
        print(f"[perfbench] {args.workload} p50/p75 over {info['samples']} samples")
    print(f"[perfbench] failed_frac = {failed}/{attempted}")
    for n in names + res["errors"]:
        print(f"[perfbench] FAILED {n}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
