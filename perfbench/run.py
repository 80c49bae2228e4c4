#!/usr/bin/env python3
"""Lake benchmark: one workload, one JVM, one JSON result line.

Usage, from the repository root:

    python3 perfbench/run.py --workload drop_merge --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the engine and the benchmark from source
(sbt: perfbench/build.sbt on top of the engine's build.sbt) and records the
runtime classpath under .bench_build/; later runs reuse that build while the sources
are unchanged. Each run gets a fresh work directory under .bench_build/work/
(removed at exit); a traced run (--trace 1) also leaves its spans and
per-layer JSON under .bench_build/trace/. The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("drop_merge", "maintenance_tick", "lake_read")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of every input of the build: build files, engine and benchmark sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, p) for p in (
        "build.sbt", "project/build.properties",
        "perfbench/build.sbt", "perfbench/project/build.properties")]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(root, top)):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the recorded build matches the sources."""
    out = os.path.join(root, BUILD_DIR)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    bench = os.path.join(root, "perfbench")
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=bench, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    os.makedirs(out, exist_ok=True)
    shutil.copyfile(os.path.join(bench, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def check_result(line):
    res = json.loads(line)
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        raise ValueError(f"unexpected result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("no operation attempted")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala/graft) are missing")
    cp = build(root)

    work = os.path.join(root, BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # deep call sites in StageInfo.details, for attributing jobs to modules
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-Dspark.callstack.depth=200"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--trace-dir", os.path.join(root, BUILD_DIR, "trace")]
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(stdout)
        fail(f"workload exited with code {proc.returncode}")
    try:
        res = check_result(lines[-1])
    except ValueError as e:
        sys.stdout.write(stdout)
        fail(f"malformed result line: {e}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
