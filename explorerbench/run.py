#!/usr/bin/env python3
"""Run one workload of the explorer benchmark and print its result line.

    python3 explorerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline; explorerbench/build.sbt depends on
the checkout's root build); later runs reuse the build while no source or
build file changed. The last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics: with --trace 0 every end_to_end metric of BENCHMARK.json, with
--trace 1 every per_layer metric. Everything the run writes stays under
explorerbench/out/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
JVM_OPTIONS = os.path.join(HERE, "target", "jvm-options.txt")
DATA = os.path.join(HERE, "data", "sf0.001")
STAMP = os.path.join(OUT, "build.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600


def die(msg, code=2):
    print(f"explorerbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input: names, sizes and mtimes."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_limited(cmd, cwd, env, limit_s, log_path):
    """Run cmd in its own process group; kill the group past limit_s."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def build(log_path):
    stamp = source_stamp()
    if all(os.path.exists(p) for p in (CLASSPATH, JVM_OPTIONS, STAMP)):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    if shutil.which("sbt") is None:
        die("sbt not found")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]))
    code = run_limited(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                       HERE, env, BUILD_LIMIT_S, log_path)
    if code != 0 or not os.path.exists(CLASSPATH) or not os.path.exists(JVM_OPTIONS):
        die(f"build failed (exit {code}); see {log_path}", 1)
    with open(STAMP, "w") as f:
        f.write(stamp)


def result_line(bench, res, traced):
    specs = bench["per_layer"] if traced else bench["end_to_end"]
    measured = res["per_layer"] if traced else res["end_to_end"]
    metrics = {}
    for m in specs:
        v = measured.get(m["name"])
        if v is None:
            if not traced:
                die(f"workload did not report {m['name']}", 1)
            v = 0.0  # a layer this workload does not exercise did no work
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            die(f"metric {m['name']} is not a finite number: {v}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = res["failed"] == 0 and all(res["checks"].values())
    return {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(bench_path) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        die(f"unknown workload {a.workload}")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "GraftEngine.scala")):
        die("program sources not found: run from the root of a full checkout")
    if not os.path.isdir(DATA):
        die(f"benchmark tables not found at {DATA}")
    if shutil.which("java") is None:
        die("java not found")

    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{'trace' if a.trace else 'plain'}"
    log_path = os.path.join(OUT, f"{tag}.log")
    if os.path.exists(log_path):
        os.remove(log_path)
    build(os.path.join(OUT, "build.log"))

    work = os.path.join(OUT, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(JVM_OPTIONS) as f:
        jvm_options = [line for line in f.read().splitlines() if line]
    env = dict(os.environ)
    env["GRAFT_CHAIN_ORACLE_DIR"] = os.path.join(work, "oracle")
    env["GRAFT_REFERENCE_ROOT"] = os.path.join(work, "no-reference")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the program's own JVM options (from its build) with the benchmark's heap
    cmd = ["java"] + jvm_options + [
            "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "explorerbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", DATA, "--result", result,
            "--trace-file", os.path.join(OUT, f"trace-{a.workload}-{a.seed}.json")]
    t0 = time.time()
    code = run_limited(cmd, work, env, RUN_LIMIT_S, log_path)
    if code != 0 or not os.path.exists(result):
        die(f"run failed (exit {code}) after {time.time() - t0:.0f} s; see {log_path}", 1)
    with open(result) as f:
        res = json.load(f)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(res) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result_line(bench, res, bool(a.trace))))


if __name__ == "__main__":
    main()
