#!/usr/bin/env python3
"""One command for the repository benchmark.

    python3 fmbench/run.py --workload dedup_shuffle --seed 1 --seconds 10 --trace 0
    python3 fmbench/run.py --self-test

Run it from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the benchmark (fmbench/src) with sbt, offline;
later runs reuse that build while the sources are unchanged. The benchmark
itself runs in one JVM with Spark in local mode; the last line it prints is
the JSON result. See fmbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STATE = os.path.join(ROOT, ".bench_build", "fmbench")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ["dedup_shuffle", "dedup_broadcast", "ingest_chain", "retrieval"]
BUILD_TIMEOUT_S = 870
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[fmbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = []
    for base in (ENGINE_SRC, os.path.join(BENCH_SRC, "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            try:
                p.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                continue
        p.wait()
        raise


def sbt(task, timeout):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", task]
    return run_group(cmd, HERE, timeout, env=sbt_env(), stdout=sys.stderr)


def ensure_built():
    stamp = os.path.join(STATE, "build.stamp")
    digest = source_digest()
    main_class = os.path.join(CLASSES, "fmbench", "Main.class")
    if os.path.exists(main_class) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return
    log("compiling the engine and the benchmark (sbt, offline)")
    t0 = time.time()
    if sbt("compile", BUILD_TIMEOUT_S) != 0 or not os.path.exists(main_class):
        sys.exit("[fmbench] build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.0f} s")


def driver_heap():
    """Half the host memory in GiB, clamped to 2..8, as the test suite's runs use."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(8, max(2, int(line.split()[1]) // 2097152))}g"
    except OSError:
        pass
    return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own unit tests and exit")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        sys.exit(f"[fmbench] engine sources not found under {ROOT}: "
                 "run from the root of a full checkout")
    if a.self_test:
        sys.exit(sbt("test", BUILD_TIMEOUT_S))
    if a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    ensure_built()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-Dfile.encoding=UTF-8", f"-Xmx{driver_heap()}",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", f"{CLASSES}:{SPARK_JARS}/*", "fmbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--work", work])
    try:
        code = run_group(cmd, ROOT, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
