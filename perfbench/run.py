#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the benchmark and the program it
measures from source with sbt when the sources changed since the last
build, then runs one workload in a fresh JVM. The JVM prints an input
summary and every metric as `# ...` lines, then one JSON result line,
which is the last line of standard output. Exit code 0 means every
correctness check passed.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
TARGET = HERE / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "build.stamp"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# What spark-submit passes to a Spark application on JDK 17.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads: both builds' definitions, both source
    trees and the frozen fixtures the correctness gate replays."""
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             ROOT / "src" / "test" / "resources" / "fixtures",
             HERE / "build.sbt", HERE / "project", HERE / "src" / "main"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            for f in sorted(r.rglob("*")):
                if f.is_file() and "target" not in f.relative_to(r).parts:
                    yield f


def digest():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built():
    stamp = digest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    print("perfbench: building", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not CLASSPATH.exists():
        fail("build failed", 3)
    STAMP.write_text(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to {HERE.name}/ (run from a full checkout)", 2)
    ensure_built()

    for d in ["tmp", "batch", "commit", "spark-local"]:
        shutil.rmtree(WORK / d, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-Xlog:all=warning:stderr", *ADD_OPENS,
           f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-cp", CLASSPATH.read_text().strip(), "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(WORK / "tmp", ignore_errors=True)
    lines = out.splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"no result line (exit code {proc.returncode})", proc.returncode or 5)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
