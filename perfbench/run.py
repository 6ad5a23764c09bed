#!/usr/bin/env python3
"""End-to-end benchmark of the graft ingest job and CDC sync loop.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_default, cdc_sync_serve (see NOTES.md).
The first run builds the repository and the benchmark from source with
sbt into `.bench_build/` and `perfbench/target/`; later runs reuse that
build while the sources are unchanged. Each run is one JVM at
local[nproc]. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("ingest_default", "cdc_sync_serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
YOUNG = "512m"

# Spark on JDK 17 needs these when a SparkSession is created outside
# spark-submit; the same list as the repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "perfbench/build.sbt"]
    for d in ("project", "perfbench/project"):
        if os.path.isdir(os.path.join(root, d)):
            inputs += [os.path.join(d, f) for f in os.listdir(os.path.join(root, d))]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            inputs += [os.path.relpath(os.path.join(d, f), root) for f in files]
    for rel in sorted(inputs):
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            h.update(rel.encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, stdout, stderr):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, out):
    """Compiles the repository and the benchmark; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           os.path.join(root, "perfbench"), env, BUILD_TIMEOUT_S, log,
                           subprocess.STDOUT)
    with open(log_path) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {code}); log in {log_path}", 1)
    cps = [l.strip() for l in lines if "scala-library" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        die(f"build printed no classpath; log in {log_path}", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    # a terminated run still stops and waits for its JVM (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/Main.scala", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(root, need)):
            die(f"run from the root of a checkout of the repository: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("needs sbt and java on PATH")

    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)

    work = os.path.join(out, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = str(os.cpu_count() or 1)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    # a fixed heap and young generation keep the peak RSS a function of
    # the live data, not of how far G1 happened to grow the heap
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.PerfBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    stdout_path = os.path.join(out, "last-stdout.log")
    stderr_path = os.path.join(out, "last-stderr.log")
    try:
        with open(stdout_path, "w") as so, open(stderr_path, "w") as se:
            code = run_bounded(cmd, root, env, RUN_TIMEOUT_S, so, se)
        with open(stdout_path) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        if a.trace == 1 and os.path.isfile(os.path.join(work, "trace.json")):
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(out, f"trace-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        die(f"run exceeded {RUN_TIMEOUT_S} s; stderr in {stderr_path}", 1)
    for l in lines:
        print(l)
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        with open(stderr_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"benchmark JVM exited with {code}; stderr in {stderr_path}", 1)


if __name__ == "__main__":
    main()
