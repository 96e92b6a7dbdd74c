#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload transcript_extract --seed 1 --seconds 10 --trace 0

Builds the program from the checkout's sources on first use (sbt, offline),
derives cores, heap and storage from the machine, runs the workload in one
JVM and prints {"correct", "attempted", "failed", "metrics"} as JSON. A human
summary precedes it; a detail file with every figure lands in perfbench/out/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
WORKLOADS = ("transcript_extract", "incremental_commit", "query_sweep")
# Wall-clock limit for one run, input generation included (the build aside).
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for top in (SOURCES, os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
              os.path.join(ROOT, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def project_jvm_options():
    """The JVM options the project's build.sbt gives `run`: the JDK module
    openings Spark needs outside spark-submit and the `-Dspark.*` settings."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        build = f.read()
    opens = re.findall(r'"(java\.base/[\w./]+)"', build)
    props = re.findall(r'"(-Dspark\.[^"]+)"', build)
    if not opens or not props:
        fail("could not read the JVM options from build.sbt")
    return [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + props


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                           f"{repos} -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compiles the program and the benchmark unless the sources are unchanged."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    print("perfbench: building from source (sbt compile)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip() + "\n")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def machine():
    """Cores (4N and N), heap and storage, derived from this machine."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    cores_n = max(1, cores // 4)
    heap_g = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                heap_g = min(8, max(2, int(line.split()[1]) // 2097152))
    mounts = {}
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fs = line.split()[:3]
            mounts[mnt] = fs
    mount = max((m for m in mounts if WORK == m or WORK.startswith(m.rstrip("/") + "/")), key=len)
    fstype = mounts[mount]
    return cores, cores_n, f"{heap_g}g", f"{fstype} at {mount}"


def run_jvm(cp, heap, args, log, deadline):
    """Runs the benchmark JVM to completion or the deadline; its exit code."""
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}"] + project_jvm_options()
           + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-cp", cp, "perfbench.Bench"]
           + args)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(WORK, "scratch"))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stderr=err, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {os.path.relpath(log, ROOT)}")


def run_workload(workload, a, cp):
    """Prepares the seed's inputs if needed, runs one workload; its result."""
    deadline = time.time() + RUN_TIMEOUT_S
    cores, cores_n, heap, storage = machine()
    for d in ("tmp", "scratch", "gen"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    name = f"{workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(OUT, f"{name}.json")
    if os.path.exists(out):
        os.remove(out)
    common = ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--cores-n", str(cores_n),
              "--heap", heap, "--storage", storage, "--work", WORK,
              "--data", os.path.join(HERE, "data"), "--out", out]
    log = os.path.join(OUT, f"{name}.log")

    # Per-seed inputs are generated in a process of their own, so that a
    # measured process never differs by whether its inputs were cached.
    ready = os.path.join(WORK, "gen", f"ready-{workload}-s{a.seed}")
    if workload != "query_sweep" and not os.path.exists(ready):
        rc = run_jvm(cp, heap, common + ["--launch-ms", "0", "--prepare", "1"], log, deadline)
        if rc != 0:
            fail(f"input generation failed (exit {rc}); log: {os.path.relpath(log, ROOT)}")
        open(ready, "w").close()

    launch_ms = int(time.time() * 1000)
    rc = run_jvm(cp, heap, common + ["--launch-ms", str(launch_ms)]
                 + (["--record", os.path.abspath(a.record)] if a.record else []), log, deadline)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"workload failed (exit {rc}); log: {os.path.relpath(log, ROOT)}")
    with open(out) as f:
        return json.loads(f.read())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="query_sweep: write fingerprints to this file instead of checking")
    a = ap.parse_args()

    if not os.path.isdir(SOURCES):
        fail(f"no program sources at {os.path.relpath(SOURCES, os.getcwd())}; nothing to measure")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    if a.workload != "all":
        print(json.dumps(run_workload(a.workload, a, cp), separators=(",", ":")))
        return
    results = {w: run_workload(w, a, cp) for w in WORKLOADS}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
