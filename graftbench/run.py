#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage (from the root of a checkout):
    python3 graftbench/run.py --workload pages_html --seed 1 --seconds 12 --trace 0

Builds the program and the harness from source with sbt when the sources
changed since the last build, runs one JVM with the settings in
graftbench/env.json, and prints as its last line one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (spans go to graftbench/target/traces/).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TARGET = os.path.join(BENCH, "target")

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the harness and the program's main sources."""
    roots = [os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(deadline):
    """Compile with sbt unless the sources match the last build."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return cp_file
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", f"-Djava.io.tmpdir={tmp}",
             "writeClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=dict(os.environ, TMPDIR=tmp))
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("build timed out", 1)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (sbt exit {rc}); see {log}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp_file


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(BENCH, "env.json")) as fh:
        env = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in env["workloads"]:
        fail(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found: run from the "
             "root of a graft checkout")

    # every run of a workload measures the same number of iterations:
    # about --seconds of work at the workload's nominal iteration time
    wl = env["workloads"][args.workload]
    iterations = max(2, round(args.seconds / wl["iteration_s"]))
    with open(os.path.join(BENCH, "expected.json")) as fh:
        pins = json.load(fh).get(args.workload, {}).get(str(wl["docs"]))
    if pins is None:
        fail(f"no results pinned in expected.json for {args.workload} "
             f"at {wl['docs']} docs")

    start = time.time()
    cp_file = build(start + 880)
    with open(cp_file) as fh:
        classpath = fh.read().strip()

    run_id = f"{args.workload}-{os.getpid()}"
    work = os.path.join(TARGET, "run", run_id)
    result = os.path.join(TARGET, "run", run_id + ".result.json")
    trace_file = os.path.join(TARGET, "traces",
                              f"{args.workload}-seed{args.seed}.json")
    jlog = os.path.join(TARGET, "run", run_id + ".log")
    # temporary files (native libraries, scratch) stay inside the run dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + env["jvm_options"] + \
        ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + \
        [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + \
        ["-cp", classpath, "graftbench.Main",
         "--workload", args.workload, "--seed", str(args.seed),
         "--trace", str(args.trace),
         "--docs", str(wl["docs"]), "--iterations", str(iterations),
         "--warmup", str(wl["warmup_iterations"]),
         "--mini-docs", str(wl["mini_docs"]),
         "--mini-iterations", str(wl["mini_iterations"]),
         "--calibration-cpu-s", str(env["calibration_cpu_s"]),
         "--cores", str(env["cores"]), "--buckets", str(env["buckets"]),
         "--deadline-s", str(env["iteration_deadline_s"]),
         "--work", work, "--result", result, "--trace-file", trace_file,
         "--pins", json.dumps({k: str(v) for k, v in pins.items()}),
         "--t0-ms", str(int(time.time() * 1000))]
    timeout = env["run_timeout_s"]
    with open(jlog, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=dict(os.environ, TMPDIR=tmp))
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    with open(jlog, errors="replace") as fh:
        lines = fh.readlines()
    for line in lines:
        if line.startswith("graftbench:"):
            sys.stderr.write(line)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write("".join(lines[-30:]))
        os.remove(jlog)
        why = "timed out" if rc is None else f"exited {rc}"
        fail(f"benchmark JVM {why}", 1)
    os.remove(jlog)
    with open(result) as fh:
        res = json.load(fh)
    os.remove(result)
    print("graftbench: setup " + json.dumps(res["setup_parts_s"]) + " iterations "
          + json.dumps(res["iteration_s"]) + " cpu " + json.dumps(res["iteration_cpu_s"])
          + " jit_cpu " + json.dumps(res["iteration_jit_cpu_s"])
          + " calibration_cpu " + json.dumps(res["calibration_cpu_s"]), file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in res["metrics"]:
            fail(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
