#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result as the last line.

    python3 perfbench/run.py --workload forecast_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) and keeps the classpath under .bench_build/;
later runs start the JVM directly. Everything the run writes stays under
.bench_build/. With --trace 1 the run also writes its spans to
.bench_build/perfbench/trace-<workload>-<seed>.json, with the tracing
overhead against the last untraced run of the same workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("forecast_cycle", "ops_heavy")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found: {need} is missing from {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = os.path.join(STATE, f"classpath-{sources_digest()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed; see {log}")
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (os.path.join(HERE, "data", "sf0.01"), os.path.join(HERE, "expected", "sf0.01.tsv")):
        if not os.path.exists(need):
            fail(f"benchmark input missing: {need}")
    cp = classpath()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(STATE, f"trace-{a.workload}-{a.seed}.json")
    # A fixed heap and the throughput collector keep heap sizing, and so
    # peak RSS and collection pauses, the same from run to run.
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace),
              "--data", os.path.join(HERE, "data", "sf0.01"),
              "--expected", os.path.join(HERE, "expected", "sf0.01.tsv"),
              "--work", work, "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode not in (0, 1) or len(lines) < 2:
        sys.stderr.write(out)
        fail(f"benchmark process exited with {proc.returncode}", 4)

    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    last = os.path.join(STATE, f"last-untraced-{a.workload}.json")
    if a.trace == 0:
        with open(last, "w") as fh:
            json.dump(detail, fh)
    elif os.path.exists(last) and os.path.exists(trace_out):
        with open(last) as fh:
            base = json.load(fh)
        overhead = {k: detail["detail"][k]["value"] / base["detail"][k]["value"] - 1
                    for k in ("op_s.p50", "ops_per_s") if base["detail"].get(k, {}).get("value")}
        with open(trace_out) as fh:
            trace = json.load(fh)
        trace["tracing_overhead"] = {"untraced_seed": base["seed"], **overhead}
        with open(trace_out, "w") as fh:
            json.dump(trace, fh)
        detail["tracing_overhead"] = overhead
    print(json.dumps(detail))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
