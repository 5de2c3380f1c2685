#!/usr/bin/env python3
"""Replication + operator benchmark for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the benchmark from
source with sbt (perfbench/build.sbt; the build is reused while no source
changes), then runs one workload in a fresh JVM at local[N], N = the CPUs
this process may use. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Exit code 0 only when every
output was correct.

Build outputs and traces go to $CARGO_TARGET_DIR (default .bench_build).
The build needs $SPARK_HOME. Test data is read from the directory the
program's own flagship query reads (override with $PERFBENCH_TESTDATA).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("cdc_backfill", "operator_suite")
# A run must end within 180 s; the JVM is stopped after 170 s (a build,
# when one is needed, comes before and is not counted).
RUN_LIMIT_S = 170
# The heap is fixed: one that grows on demand made the peak RSS spread by
# 30% between runs.
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt; return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building with sbt (first run in this tree)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.global.base=" + os.path.join(build_dir, "sbt-global"),
           "-Dsbt.server.forcestart=false",
           "export Runtime/fullClasspath"]
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, stdin=subprocess.DEVNULL)
    out_lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not out_lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode}); see {build_dir}/build.log")
    cp = out_lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_java(cp, main_args, build_dir, deadline):
    """Run perfbench.Main; forward its output; return (exit code, result JSON or None).

    A timer kills the JVM at the deadline whether or not it still prints;
    a killed run returns exit code 3 and no result."""
    cmd = ["java"] + JAVA_OPTS + [
        "-Dderby.stream.error.file=" + os.path.join(build_dir, "derby.log"),
        "-Djava.io.tmpdir=" + os.path.join(build_dir, "tmp"),
        "-cp", cp, "perfbench.Main"] + main_args
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    result = None
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    killed = threading.Event()

    def kill():
        if p.poll() is None:
            killed.set()
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    timer = threading.Timer(max(0.0, deadline - time.time()), kill)
    timer.start()
    try:
        for line in p.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = line[len("PERFBENCH_RESULT "):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            kill()
        p.wait()
    if killed.is_set():
        log("run exceeded its time limit; the JVM was stopped")
        return 3, None
    return p.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    # on SIGTERM, unwind so that run_java stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        log(f"program sources not found at {PROGRAM_SRC}; run from a full checkout")
        return 2
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)
    if args.selftest:
        import selftest
        return selftest.main(cp, lambda a: run_java(cp, a + common_args(build_dir),
                                                     build_dir, time.time() + RUN_LIMIT_S))
    deadline = time.time() + RUN_LIMIT_S
    code, result = run_java(cp, ["--workload", args.workload, "--seed", str(args.seed),
                                 "--seconds", str(args.seconds), "--trace", args.trace]
                            + common_args(build_dir), build_dir, deadline)
    if result is None:
        log(f"no result (JVM exit {code})")
        return code or 1
    print(result, flush=True)
    ok = code == 0 and json.loads(result)["correct"]
    return 0 if ok else 1


def common_args(build_dir):
    return ["--work", build_dir, "--bench-dir", BENCH,
            "--cores", str(len(os.sched_getaffinity(0)))]


if __name__ == "__main__":
    sys.exit(main())
