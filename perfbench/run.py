#!/usr/bin/env python3
"""Repo benchmark entry point.

    python3 perfbench/run.py --workload <codec_file|table_io|query_mix> \
        --seed <n> --seconds <s> --trace <0|1> [--smoke 1] [--inject-fault 1]

Builds the library and the harness from source (perfbench/build.sbt, sbt
offline) on first use or when a source changed, then runs one workload in a
fresh JVM. The JVM prints a context line and, as the last line of stdout,
the result JSON: {"correct", "attempted", "failed", "metrics"}.

Inputs are the tables under perfbench/data (copies of the repository's
seed-42 testdata), amplified per workload from --seed.

--smoke 1 runs the workload at sf0.001 (seconds, for the benchmark's own
tests); --inject-fault 1 corrupts one checked output so the run must report
it as a failed op.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-sources.sha1")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data")  # the repository's testdata tables, sf0.01 and sf0.001
LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run of a checkout also builds
WORKLOADS = ("codec_file", "table_io", "query_mix")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return digest
    log("building library + harness with sbt")
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return digest


def main():
    t0 = time.monotonic()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-fault", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("library sources (src/main/scala) not found beside perfbench/")
        return 2
    digest = build()
    built = time.monotonic()

    work = os.path.join(OUT, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    # a fixed-size heap: no resizing while rounds are timed
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--smoke", str(a.smoke),
            "--inject-fault", str(a.inject_fault), "--work", work, "--data", DATA,
            "--build", digest]
    # the build may use the longer first-run allowance; the run itself may not
    left = LIMIT_S - (time.monotonic() - (built if built - t0 > 5 else t0))
    try:
        r = subprocess.run(cmd, cwd=ROOT, timeout=max(left, 10))
        code = r.returncode
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit")
        code = 3
    for d in ("tmp", "spark-local", "warehouse", a.workload):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
