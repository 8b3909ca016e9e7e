#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload kitkat_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds graft and the harness
from source with sbt (offline, against the Spark jars in /opt/spark/jars)
and caches the classpath under .bench_build/, keyed by a hash of every
source and build file; later runs start the JVM directly. Each run works in
a fresh directory under .bench_build/ and removes it when it ends.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The exit code is 0 only when the
run completed and every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("kitkat_ingest", "kitkat_tail", "suite_sf001")
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 needs these outside spark-submit; the same list graft's
# build.sbt passes to its forked JVMs.
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


def build_inputs():
    """Every file whose change must trigger a rebuild, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def classpath():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft source not found: {os.path.join(ROOT, need)} is missing")
    # the cached classpath holds absolute paths, so the checkout's location
    # is part of the key
    h = hashlib.sha256(ROOT.encode())
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "classpath-" + h.hexdigest()[:16])
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                "export Runtime/fullClasspath"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if r.returncode != 0 or not lines or os.pathsep not in lines[-1] and not lines[-1].endswith(".jar"):
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--inject", choices=("drop", "dup"),
                    help="drop or duplicate one delivered record to show the check fails")
    ap.add_argument("--digests", choices=("check", "record"),
                    help="instead of a workload, check (or record) the result digest "
                         "of every registered query on the fixture")
    args = ap.parse_args()
    if args.digests:
        args.workload, args.seed, args.seconds, args.trace = "suite_sf001", 0, 0, "0"
    elif None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    cp = classpath()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--fixture", os.path.join(HERE, "fixture", "sf0.01")]
    if args.inject:
        cmd += ["--inject", args.inject]
    if args.digests:
        cmd += ["--digests", args.digests]
    log = os.path.join(BUILD, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    started = time.monotonic()
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                               stdin=subprocess.DEVNULL, text=True,
                               timeout=None if args.digests else JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JAVA_TIMEOUT_S} s; see {log}")
    if args.trace == "1":
        for f in os.listdir(work):
            if f.startswith("spans-"):
                shutil.copy(os.path.join(work, f), os.path.join(BUILD, f))
    shutil.rmtree(work, ignore_errors=True)
    out = [l for l in r.stdout.splitlines() if l.strip()]
    if args.digests:
        print("\n".join(out[-1:]))
        sys.exit(r.returncode)
    try:
        result = json.loads(out[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line (exit {r.returncode}); see {log}")
    with open(log, "a") as err:
        err.write(f"\nwall {time.monotonic() - started:.1f} s\n" + "\n".join(out[-2:]) + "\n")
    if len(out) > 1:
        print(out[-2])
    print(json.dumps(result))
    sys.exit(0 if r.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
