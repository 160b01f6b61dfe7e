#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. The inputs are the sf0.1 tables under
perfbench/data/sf0.1. Each run starts one JVM (`perfbench.Main`), which
measures the workload and prints one JSON object as the last line of its
standard output; this script relays that line.

Everything the run writes stays under perfbench/.work and perfbench/target.
Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("batch_queries", "serving_mixed", "ann_search")
# the input tables; every seed runs over the same data, so the expected
# output digests hold
DATA = os.path.join(BENCH, "data", "sf0.1")
# heap of the run's JVM, passed to the engine's build (SPARK_DRIVER_MEM),
# which puts it into the JVM options it exports
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine sources and harness."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_build():
    """Compile engine + harness when the sources changed; return the JVM
    arguments (options and classpath) the engine's build exports."""
    stamp_file = os.path.join(WORK, "build.stamp")
    args_file = os.path.join(WORK, "launch-args.txt")
    stamp = source_stamp()
    if os.path.isfile(args_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(args_file) as a:
                    return a.read().splitlines()
    print("perfbench: building engine and harness", file=sys.stderr)
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt reads .jvmopts only from its working directory; the engine's
    # compile needs the JVM options the engine's build keeps there
    jvmopts = os.path.join(ROOT, ".jvmopts")
    if os.path.isfile(jvmopts):
        with open(jvmopts) as f:
            env["JAVA_OPTS"] = " ".join([env.get("JAVA_OPTS", "")] + f.read().split()).strip()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "perfbench/compile", "perfbench/launchArgs"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    built = os.path.join(BENCH, "target", "launch-args.txt")
    if r.returncode != 0 or not os.path.isfile(built):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.copyfile(built, args_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(args_file) as a:
        return a.read().splitlines()


def java_cmd(launch_args, run_dir, argv):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + launch_args[:-2] + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
        + launch_args[-2:] + ["perfbench.Main"] + argv)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    os.makedirs(WORK, exist_ok=True)
    if not os.path.isdir(DATA):
        fail(f"input tables not found under {DATA}")
    launch_args = ensure_build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    argv = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--work", run_dir,
            "--expected", os.path.join(BENCH, "expected_digests.json"),
            "--spans", os.path.join(WORK, f"spans-{a.workload}.json")]
    try:
        r = subprocess.run(java_cmd(launch_args, run_dir, argv), stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"harness exited with code {r.returncode}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
