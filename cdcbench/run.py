#!/usr/bin/env python3
"""Run one workload of the CDC replication benchmark and print its result.

    python3 cdcbench/run.py --workload cow_upsert --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The first run builds the
engine and the benchmark with sbt (about a minute); later runs reuse the build
while no source file changed. Each run starts one JVM with a fixed heap, works
in a fresh directory under cdcbench/.work and removes it at the end. The last
line of standard output is the result object. `--cores N` runs Spark on N
cores instead of all of them; with `--trace 1` the spans are written to
cdcbench/out/spans-<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
STAMP = os.path.join(HERE, "target", "cdcbench-build.txt")
HEAP = "1g"
RUN_TIMEOUT_S = 170
WORKLOADS = ("cow_upsert", "mor_serve", "stream_append_mv")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every source and build file the benchmark is built from."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the stamp matches the sources; returns the classpath."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp_digest, classpath = fh.read().split("\n", 1)
        if stamp_digest == digest:
            return classpath.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if "cdcbench" in l and "classes" in l and os.pathsep in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join((proc.stdout + proc.stderr).splitlines()[-40:]) + "\n")
        die("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--cores", type=int)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
            "run from a checkout of the repository", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH", 2)
    classpath = build()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # The heap is fixed and touched at JVM start: a larger heap left to grow
    # faulted in about 1.6 GB of fresh pages during the timed phase, and the
    # timed operations paid for the kernel's page-fault work.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "cdcbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if args.cores:
        cmd += ["--cores", str(args.cores)]
    if args.trace:
        cmd += ["--spans-out", os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.jsonl")]
    err_path = os.path.join(HERE, ".work", f"stderr-{os.getpid()}.log")
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                    stdout=subprocess.PIPE, stderr=err, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                die(f"run exceeded {RUN_TIMEOUT_S} s")
        if proc.returncode != 0:
            with open(err_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(f"benchmark JVM exited with {proc.returncode}")
        with open(err_path) as fh:
            for line in fh:
                if line.startswith("check failed"):
                    sys.stderr.write(line)
        sys.stdout.write(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(err_path):
            os.remove(err_path)


if __name__ == "__main__":
    main()
