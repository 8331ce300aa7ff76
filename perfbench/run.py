#!/usr/bin/env python3
"""Serving-path benchmark runner.

Builds the server and the load generator from source (sbt, offline) when
their sources changed, then runs one workload in a fresh JVM:

    python3 perfbench/run.py --workload session_query --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. Everything it writes stays under
`.bench_build/perfbench/` and the sbt `target/` directories. The last line
of standard output is the JSON result of `perfbench.ServeBench`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("session_query", "oneshot_ingest", "vector_search")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# fixed heap cap; no hsperfdata file, so the JVM writes nothing outside the checkout
JVM_FLAGS = ["-Xmx3g", "-XX:-UsePerfData"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file whose content decides what the build produces."""
    picks = [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench", "build.sbt")]
    for top in ("project", os.path.join("perfbench", "project")):
        d = os.path.join(root, top)
        if os.path.isdir(d):
            picks += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join("src", "main"), os.path.join("perfbench", "src")):
        for base, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            picks += [os.path.join(base, f) for f in sorted(files)]
    return picks


def fingerprint(root):
    h = hashlib.sha256()
    for path in source_files(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, state):
    """Compile with sbt unless the sources match the last build."""
    launch = os.path.join(root, "perfbench", "target", "launch")
    stamp = os.path.join(state, "build.fingerprint")
    fp = fingerprint(root)
    ready = all(os.path.isfile(os.path.join(launch, f)) for f in ("classpath.txt", "jvm-options.txt"))
    if ready and os.path.isfile(stamp) and open(stamp).read() == fp:
        return launch
    log_path = os.path.join(state, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(["sbt", "--batch", "writeLaunch"], cwd=os.path.join(root, "perfbench"),
                                env=sbt_env(), stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {code}); full log in {log_path}")
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return launch


def wait(proc, timeout):
    """Wait for a process group; kill it whole on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found", 2)
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    launch = build(root, state)
    with open(os.path.join(launch, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(launch, "jvm-options.txt")) as f:
        jvm_opts = [l.strip() for l in f if l.strip()]

    run_dir = os.path.join(state, "runs", f"{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = (["java"] + JVM_FLAGS + jvm_opts +
           [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.ServeBench",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--state-dir", state, "--cpus", str(cpus)])
    last = None
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        watchdog = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
        watchdog.start()
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        code = proc.wait()
        watchdog.cancel()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}")
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (TypeError, ValueError, AssertionError):
        fail("benchmark JVM printed no result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
