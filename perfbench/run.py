#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {etl,session} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run starts one fresh JVM with Spark on
local[4], sets the workload up three times, measures the workload's fixed
iterations (sized to about S seconds on four cores), checks every output,
and prints as its last stdout line one JSON object: {"correct", "attempted",
"failed", "metrics"}. Untraced runs report the end-to-end metrics, traced
runs the per-layer ones. See README.md.

    python3 perfbench/run.py --record --workload session --seed N
rewrites the workload's expected-digest file from this run's outputs.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(HERE, "target")
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("etl", "session")
CPUS = 4
RUN_LIMIT_S = 170

import metrics  # noqa: E402  (lives next to this file)

OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Build program + harness unless the last build saw the same sources.
    Returns the runtime classpath and whether a build ran."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources (src/main/scala/graft) in this directory")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read(), False
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=850)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if "/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip(), True


def heap_gb():
    """The project's heap rule: half of physical memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(classpath, args, deadline, log):
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap_gb()}g",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    # Spark prefers this variable to its own setting; keep scratch in WORK
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                             stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    classpath, built = build()
    if a.workload != "etl" and not os.path.isdir(DATA):
        fail(f"missing benchmark data {os.path.relpath(DATA, ROOT)}")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    raw_file = os.path.join(WORK, "raw.json")
    log = os.path.join(BUILD, f"{a.workload}.log")
    digests = os.path.join(HERE, "digests", f"{a.workload}.json")
    args = [a.workload, str(a.seed), str(a.trace), str(CPUS),
            WORK, DATA, digests, raw_file] + (["record"] if a.record else [])
    # a run that had to build first gets its full time after the build
    deadline = (time.time() if built else start) + RUN_LIMIT_S
    rc = run_jvm(classpath, args, deadline, log)
    if rc != 0 or not os.path.exists(raw_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
    with open(raw_file) as fh:
        raw = json.load(fh)
    shutil.copy(raw_file, os.path.join(BUILD, f"{a.workload}.raw.json"))
    shutil.rmtree(WORK, ignore_errors=True)

    info, line = metrics.summarize(raw, CPUS)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
