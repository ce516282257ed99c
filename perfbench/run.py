#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload deals_load --seed 1 --seconds 10 --trace 0

It builds the checkout's engine sources together with the benchmark (only
when a source or build file changed since the last build), starts one JVM
for the run in a fresh directory under `.bench_run/`, deletes that
directory afterwards and relays the JVM's JSON result line as the last
line of stdout. Build output lands in `target/` directories and in
`.bench_build/`; traced runs also write their spans to
`.bench_build/spans/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("deals_load", "deals_upsert", "deals_stream", "corpus_ops")
BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
RUN_DIR = ".bench_run"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: the engine's main sources and build
    definition, and the benchmark's own sources and build definition."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(root, BENCH_DIR, "build.sbt"),
             os.path.join(root, BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"),
                os.path.join(root, BENCH_DIR, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the checked-out sources unless the last build saw exactly
    these files; returns the runtime classpath."""
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    stamp_file = os.path.join(root, BUILD_DIR, "stamp")
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    want = stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as c:
                    return c.read().strip()
    # the build resolves only from local caches: it must never reach out
    # to a network repository
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.forcestart=false",
           "compile", "writeClasspath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        r = subprocess.run(cmd, cwd=os.path.join(root, BENCH_DIR), env=env,
                           stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if r.returncode != 0:
        fail("build failed", 1)
    shutil.copyfile(os.path.join(root, BENCH_DIR, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as c:
        return c.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: the engine sources "
             "(build.sbt, src/main/scala/graft) are missing")

    classpath = build(root)
    run_dir = os.path.join(root, RUN_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, "-Xmx4g", *opens,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.BenchMain",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", run_dir]
    if a.trace:
        cmd += ["--spans-out", os.path.join(
            root, BUILD_DIR, "spans", f"{a.workload}-seed{a.seed}.json")]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    # a terminated launcher must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("run timed out", 1)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}", 1)
    try:
        res = json.loads(lines[-1])
    except ValueError:
        fail("benchmark JVM printed no result line", 1)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
