#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cores N] [--rate R]
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles the program's sources
together with the harness (perfbench/build.sbt) and caches the classpath;
later runs start the JVM directly. The harness prints human-readable lines
and this script prints one JSON result as the last line of its output. The
exit code is 0 only when every output check passed.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(BENCH_DIR, "target")
CLASSPATH_FILE = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ("etl_batch", "cdc_incremental", "corpus_dedup")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# A fixed-size heap and young generation keep the resident set (peak_rss_mb)
# from following the collector's sizing decisions from run to run.
HEAP = "3g"
YOUNG = "1g"

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(BENCH_DIR, "src"), os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH_DIR, "build.sbt")]
    for r in roots:
        if os.path.isfile(r):
            newest = max(newest, os.path.getmtime(r))
        for d, _, files in os.walk(r):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile with sbt (offline) unless the cached classpath is current."""
    if (os.path.exists(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime()):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt compile)", file=sys.stderr, flush=True)
    # own process group, so a timeout stops the sbt launcher and its JVM
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        output, _ = p.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("build timed out")
    lines = [l for l in output.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(output[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def jvm(classpath, args, work, limit_s, cores):
    """Run the harness; returns (exit code, result JSON line or None)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    result = None
    deadline = time.monotonic() + limit_s

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    try:
        timer = threading.Timer(max(deadline - time.monotonic(), 1), kill)
        timer.start()
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = line[len("PERFBENCH_RESULT "):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
        timer.cancel()
        if time.monotonic() >= deadline:
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return 3, None
        return code, result
    finally:
        kill()
        proc.wait()
        signal.signal(signal.SIGTERM, old)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark cores, local[N] (default: all; 1 gives the single-core reference)")
    ap.add_argument("--rate", type=float,
                    help="cdc_incremental: files per second instead of the default")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC)}; "
             "run from the repository root")
    classpath = build()
    limit = RUN_LIMIT_S
    work = os.path.join(BENCH_DIR, "work", f"run-{os.getpid()}")
    out = os.path.join(BENCH_DIR, "out")
    try:
        if a.self_test:
            code, _ = jvm(classpath, ["selftest"], work, limit, a.cores)
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out]
        if a.rate is not None:
            args += ["--rate", str(a.rate)]
        code, result = jvm(classpath, args, work, limit, a.cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail(f"the harness printed no result (exit code {code})", code or 1)
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
