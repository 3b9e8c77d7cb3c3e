#!/usr/bin/env python3
"""Build and run the CDC-pipeline benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_microbatch --seed 1 --seconds 6 --trace 0

The first run builds the engine and the benchmark with sbt (perfbench/
build.sbt over the root build) and records the runtime classpath under
.bench_build/; later runs start the benchmark JVM directly, so no run
pays sbt's start-up. A changed source or build file triggers a rebuild.

The last line of stdout is the run's JSON result. The exit code is 0
only when the run finished and every output check held.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "classpath.txt"
STAMP = BUILD / "build.stamp"
RUN_TIMEOUT_S = 170

# What spark-submit would pass on JDK 17 (Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest():
    """Hash of every input of the build: sources and build files."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the repository root: the engine's build.sbt and src/main/scala/graft are missing")
    want = digest()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return
    BUILD.mkdir(exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not CLASSPATH.is_file():
        fail("build failed")
    STAMP.write_text(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}", "-cp", CLASSPATH.read_text().strip(),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if not lines or not lines[-1].startswith("{"):
        fail("the benchmark printed no result")
    print(lines[-1])
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
