#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 graftbench/run.py --workload saga|serving --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the harness with sbt into `.bench_build/`; later runs reuse the build
while the sources are unchanged. Each run generates its tables from the
seed, runs one workload alone in its own JVM, checks its outputs, and
prints as its last stdout line one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).
The lines before it are the machine header and the run's details.
Exits non-zero if the run could not be made or an output check failed.
"""
import argparse
import fcntl
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
SETUP_REPS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    os.makedirs(BUILD, exist_ok=True)
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
                open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        lines = open(log).read().splitlines()
        if p.returncode != 0:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail("build failed")
        cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
        if not cp:
            fail("build printed no classpath")
        with open(cp_file, "w") as f:
            f.write(cp[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp[-1].strip()


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except Exception:
        return "none"


# ---------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["saga", "serving"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(bench_json))
    classpath = build()

    sys.path.insert(0, HERE)
    import datagen

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    datagen.write(data, a.seed)
    t_jvm = time.monotonic()
    out = os.path.join(work, "result.json")
    nproc = os.cpu_count() or 1
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-cp", classpath,
            "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work,
            "--out", out, "--reps", str(SETUP_REPS), "--cores", str(nproc)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"{a.workload} JVM exited with {p.returncode}")
    res = json.load(open(out))
    res["details"]["jvm_s"] = time.monotonic() - t_jvm
    failures = list(res["failures"])

    res["header"].update({"git_commit": git_commit(), "seconds": a.seconds,
                          "trace": a.trace, "setup_reps": SETUP_REPS})
    kind = "per_layer" if a.trace else "end_to_end"
    metrics, missing = {}, []
    for m in spec[kind]:
        got = res["metrics"].get(m["name"])
        if got is None:
            # a layer this workload does not exercise (see README.md)
            missing.append(m["name"])
            got = {"value": 0.0, "unit": m["unit"]}
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if a.trace:
        spans = glob.glob(os.path.join(work, "spans-*.jsonl"))
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        for s in spans:
            shutil.copy(s, traces)
        res["details"]["spans_file"] = [os.path.join(traces, os.path.basename(s)) for s in spans]
    shutil.rmtree(work, ignore_errors=True)

    res["details"]["run_s"] = time.monotonic() - t_start
    correct = not failures and all(
        isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
        for v in metrics.values())
    print(json.dumps({"header": res["header"]}))
    print(json.dumps({"details": res["details"], "failures": failures,
                      "not_exercised": missing,
                      "metrics_all": res["metrics"]}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
