#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload machine_day --seed 1 --seconds 40 --trace 0

The first call in a checkout builds the engine (``sbt compile`` at the root)
and the benchmark (``sbt compile`` in ``perfbench/``); later calls reuse the
classes while the sources are unchanged. Each run is one JVM at
``local[<cores>]``. With ``--trace 0`` the result carries the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` its per-layer metrics.
A window line with host telemetry (steal, load average, JVM GC) precedes it.
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

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "engine.classpath")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
WORKLOADS = ("machine_day", "text_ingest", "embed_ingest")

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, cwd, log, timeout, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build():
    for f in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from the root of a checkout of the engine")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    deadline = time.time() + BUILD_TIMEOUT_S
    # the engine's own build compiles it and reports its runtime classpath
    # (its classes and Spark's jars), which the benchmark builds and runs on
    steps = [(ROOT, ["compile", "export Runtime/fullClasspath"], "engine.log"),
             (BENCH, ["compile"], "bench.log")]
    for cwd, tasks, name in steps:
        log = os.path.join(BUILD, name)
        if os.path.exists(log):
            os.remove(log)
        rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks, cwd, log,
                        max(1, deadline - time.time()), env)
        if rc != 0:
            fail(f"build failed in {cwd} (see {log})")
        if cwd == ROOT:
            with open(log) as fh:
                lines = [l.strip() for l in fh if l.strip() and not l.startswith("[")]
            if not lines:
                fail(f"no engine classpath in {log}")
            with open(CLASSPATH, "w") as fh:
                fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(want)


def cpu_steal_jiffies():
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def run_jvm(args, work, timeout):
    with open(CLASSPATH) as fh:
        engine = fh.read().strip()
    classpath = os.pathsep.join([engine, os.path.join(BENCH, "target", "scala-2.13", "classes")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # C1-only JIT, a fixed-size heap and the throughput collector: under C2,
    # each JVM settled into its own speed (machine_day's median op ranged
    # 2.1-3.6 s across runs of one seed, with ~8,500 deoptimizations a run);
    # C1 code is slower but the same in every run. No hsperfdata file.
    cmd = ["java", "-XX:TieredStopAtLevel=1", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + tmp,
        "-Djava.io.tmpdir=" + tmp,
        "-Dderby.system.home=" + work,
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", os.path.join(BENCH, "data"),
        "--size", args.size, "--corrupt", str(args.corrupt),
    ]
    log = os.path.join(work, "jvm.log")
    stdout = os.path.join(work, "jvm.out")
    with open(stdout, "wb") as out, open(log, "wb") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    result = None
    with open(stdout) as fh:
        for line in fh:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
    if rc != 0 or result is None:
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"JVM exited with {rc} and {'a' if result else 'no'} result")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny inputs, for the benchmark's own smoke tests")
    ap.add_argument("--corrupt", default=0, type=int, choices=(0, 1),
                    help="corrupt one op's output before the check (tests the check)")
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail("BENCHMARK.json not found: run from the root of the checkout")
    with open(spec_file) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0, load0, t0 = cpu_steal_jiffies(), loadavg(), time.time()
    try:
        result = run_jvm(args, work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    hz = os.sysconf("SC_CLK_TCK")
    window = {
        "window": True, "wall_s": round(time.time() - t0, 3),
        "steal_ms": round((cpu_steal_jiffies() - steal0) * 1000.0 / hz, 1),
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "cores": os.cpu_count(), "diagnostics": result["diagnostics"],
    }
    print(json.dumps(window))

    got = result["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(result["attempted"]), int(result["failed"])
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
