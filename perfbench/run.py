#!/usr/bin/env python3
"""Build and run the repository benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dag_build --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the library together with the
benchmark (sbt, offline); later runs reuse the build until a source file
changes. The benchmark's JVM prints one JSON result as its last stdout line,
which this script passes through as its own last line. Per-run summaries,
per-op series and (traced) spans are written to <build dir>/results.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("dag_build", "spend_incremental", "doc_index_cdc")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input of the build: its sources, resources and build files."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "src", "main"),
              os.path.join(root, "perfbench", "src", "main"),
              os.path.join(root, "perfbench", "build.sbt"),
              os.path.join(root, "perfbench", "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, root)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run cmd in its own process group; on timeout kill the whole group.
    Returns the exit code, or None on timeout. Waits until the process ended."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                            env=env, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(root, build_dir):
    """Compile with sbt once per source state; return the runtime classpath."""
    cp_file = os.path.join(build_dir, "perfbench", "classpath.txt")
    stamp_file = os.path.join(build_dir, "perfbench", "stamp")
    os.makedirs(os.path.join(build_dir, "perfbench"), exist_ok=True)
    with open(os.path.join(build_dir, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as c:
                        return c.read().strip()
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH")
        env = dict(os.environ)
        env["CARGO_TARGET_DIR"] = build_dir
        log_path = os.path.join(build_dir, "perfbench", "build.log")
        with open(log_path, "w") as log:
            code = run_bounded(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false",
                 f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
                 "compile", "writeClasspath"],
                os.path.join(root, "perfbench"), BUILD_TIMEOUT_S, log,
                subprocess.STDOUT, env)
        if code != 0 or not os.path.exists(cp_file):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail("build failed" if code is not None else "build timed out")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        with open(cp_file) as c:
            return c.read().strip()


def main():
    # a terminated run takes its JVM (or sbt) down with it: SystemExit
    # reaches run_bounded, which kills the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: no library sources under src/main/scala")
    if not os.path.isfile(os.path.join(root, "perfbench", "build.sbt")):
        fail("no perfbench/build.sbt under the current directory")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(root, build_dir)

    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    work = os.path.join(build_dir, "work", f"{tag}_{os.getpid()}")
    out = os.path.join(build_dir, "results")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(work, "run"),
            "--out", out]
    stdout_path = os.path.join(out, f"{tag}.stdout")
    stderr_path = os.path.join(out, f"{tag}.stderr")
    t0 = time.time()
    try:
        with open(stdout_path, "w") as so, open(stderr_path, "w") as se:
            code = run_bounded(cmd, root, RUN_TIMEOUT_S, so, se)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(stderr_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM {'timed out' if code is None else f'exited with {code}'}"
             f" after {time.time() - t0:.0f} s")
    with open(stdout_path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        fail("benchmark JVM printed no result line")
    print(lines[-1])


if __name__ == "__main__":
    main()
