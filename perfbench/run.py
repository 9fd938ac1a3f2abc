#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark with sbt on first use (or when a source
is newer than the last build), then starts one JVM for the run. Everything
the run writes stays under perfbench/target/. The last line printed is the
result JSON; see perfbench/README.md for the metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
JVMOPTS = os.path.join(TARGET, "bench.jvmopts")
WORKLOADS = ("esm_session", "corpus_prep")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build_is_current():
    if not (os.path.exists(CLASSPATH) and os.path.exists(JVMOPTS)):
        return False
    with open(CLASSPATH) as f:
        entries = [e for e in f.read().strip().split(os.pathsep) if e]
    if not entries or not all(os.path.exists(e) for e in entries):
        return False
    return os.path.getmtime(CLASSPATH) >= newest_source_mtime()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group
    and waits for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t = time.time()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr)
    if code != 0:
        fail("build failed" if code is not None else "build timed out")
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no library sources beside the benchmark in {ROOT}")
    if not build_is_current():
        build()

    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(JVMOPTS) as f:
        opts = f.read().split()
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = max(2, min(4, int(mem_gb // 4)))
    cmd = ["java", f"-Xmx{heap}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *opts,
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if not ok:
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        fail(f"run exited {code} without a result line", code or 4)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
