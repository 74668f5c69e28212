#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload upload|bulk \
        --seed N --seconds S --trace 0|1

Builds the engine's main sources together with the benchmark package
(perfbench/build.sbt) on first use, then starts one JVM that sets the
workload up, measures it for S seconds, and checks every output against
answers known from the seeded generator. Prints the metrics by name with
units, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Everything it writes stays inside the checkout: build outputs under
perfbench/target, inputs, logs and span dumps under .bench_build/perfbench.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            if os.path.join(HERE, "project", "target") in d or os.path.join(HERE, "project", "project") in d:
                continue
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(OUT, "sbt-global"), "writeClasspath"]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(proc)
            fail(f"build timed out, see {log}")
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}), see {log}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["upload", "bulk"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}; run from a full checkout")
    want = expected_metrics(args.trace)
    build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", tag)
    result = os.path.join(OUT, "results", tag + ".json")
    trace_out = os.path.join(OUT, "traces", tag + ".json")
    log = os.path.join(OUT, "logs", tag + ".log")
    for p in (result, trace_out, log):
        os.makedirs(os.path.dirname(p), exist_ok=True)
    if os.path.exists(result):
        os.remove(result)
    tmp = os.path.join(work + "-tmp")
    os.makedirs(tmp, exist_ok=True)

    cp = open(CLASSPATH).read().strip()
    jvm = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--workdir", work,
            "--result", result, "--trace-out", trace_out if args.trace else ""]
    t0 = time.time()
    with open(log, "w") as fh:
        proc = subprocess.Popen(jvm, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(proc)
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {os.path.relpath(log, ROOT)}", 1)
    shutil.rmtree(tmp, ignore_errors=True)
    for line in open(log, errors="replace"):
        if line.startswith("[perfbench]"):
            print(line.rstrip(), file=sys.stderr)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write("".join(open(log, errors="replace").readlines()[-40:]))
        fail(f"benchmark process failed (exit {rc}), see {os.path.relpath(log, ROOT)}", 1)
    with open(result) as fh:
        res = json.load(fh)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"metrics {sorted(set(got) ^ set(want))} disagree with BENCHMARK.json", 1)
    for name, m in res["metrics"].items():
        if m["value"] is None:
            fail(f"metric {name} has no value", 1)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{time.time() - t0:.1f} s wall, attempted {res['attempted']}, failed {res['failed']}")
    print(f"failed_ratio = {res['failed'] / res['attempted']:.6f} failed/attempted")
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
