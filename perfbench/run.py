#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, report.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed under
perfbench/.work, handed to the driver, and deleted afterwards.

The last line of stdout is the result: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The line before it is the full record:
every timing as a median with its supported tail percentile and sample
count, the correctness checks, and the environment echo.
"""

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

CORES = 4
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_DIR = os.path.join(HERE, "target", "run")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def report(declared, values, fill):
    """Declared metrics with their units; a declared metric the workload does
    not exercise reads `fill`, or is an error when `fill` is None. Times of
    headline queries not declared (the registry's set changed) stay in the
    record only."""
    undeclared = {n for n in set(values) - {m["name"] for m in declared}
                  if not (n.startswith("queries.") and n.endswith(".s") and n != "queries.total_s")}
    if undeclared:
        die("metrics missing from BENCHMARK.json: %s" % sorted(undeclared))
    out = {}
    for m in declared:
        if m["name"] not in values and fill is None:
            die("metric %s was not measured" % m["name"])
        out[m["name"]] = {"value": values.get(m["name"], fill), "unit": m["unit"]}
    return out


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every source the build reads, so a stale build is never reused."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = sources_stamp()
    cp_file, stamp_file = os.path.join(BUILD_DIR, "classpath"), os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        die("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def calibrate():
    """Milliseconds for a fixed amount of interpreter work: a contention canary."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def host_state():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": [float(x) for x in load], "calibration_ms": calibrate()}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def run_driver(classpath, workload, inp, work, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx" + HEAP, "-Xms" + HEAP, "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.local.dir=" + tmp, "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dderby.system.home=" + work]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload, "--input", inp,
            "--work", os.path.join(work, "engine"), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    log = os.path.join(work, "driver.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf, env=env)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:  # also on SIGTERM, which main() turns into SystemExit
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    raw = json.load(open(out)) if os.path.exists(out) else None
    if code != 0 or raw is None:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
    return code, raw


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a checkout of the engine: its sources are missing")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath = build()
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        inp = os.path.join(work, "input")
        gen.generate(a.workload, a.seed, inp)
        before = host_state()
        code, raw = run_driver(classpath, a.workload, inp, work, a.seconds, a.trace)
        after = host_state()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or raw is None:
        die("driver exited with %s" % code)

    env = dict(raw["env"], nproc=len(os.sched_getaffinity(0)), python=platform.python_version(),
               commit=git_commit(), seed=a.seed, workload=a.workload, seconds=a.seconds,
               trace=a.trace, host_before=before, host_after=after)
    record = metrics.record(a.workload, raw)
    record["env"] = env
    failed = int(raw["failed"])
    correct = failed == 0
    result = {"correct": correct, "attempted": int(raw["attempted"]), "failed": failed,
              "metrics": report(bench["per_layer"], metrics.per_layer(a.workload, raw), 0) if a.trace
              else report(bench["end_to_end"], metrics.end_to_end(a.workload, raw), None)}
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
