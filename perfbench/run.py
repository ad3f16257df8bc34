#!/usr/bin/env python3
"""Benchmark of the graft feature-store engine (see README.md).

Run from the root of a checkout:

    python3 perfbench/run.py --workload star_interactive --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program from source with sbt (once per
source state), runs one workload in a JVM on ``local[nproc]`` and prints,
as its last stdout line, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes goes
under ``.bench_build/`` in the checkout, and its scratch lake is deleted
when it ends.

Maintenance modes rewrite the benchmark's committed inputs:

    python3 perfbench/run.py --classify   # workloads.tsv
    python3 perfbench/run.py --expect     # expected.tsv
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
BUILD = ".bench_build"
SOURCES = ["src/main", os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
JAR = os.path.join(BENCH, "target", "perfbench.jar")
# class-data-sharing archive of the classes a run loads, recorded at build
# time: it halves the JVM's start-up, which every run pays
CDS = os.path.join(BUILD, "perfbench.jsa")
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for root in SOURCES:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.abspath(os.path.join(BUILD, "sbt-tmp"))
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(cores):
    """Packages the engine and the benchmark program, and records their class-data
    archive, unless this source state is built."""
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(CDS):
        return
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=BENCH, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(CDS):
        os.remove(CDS)
    scratch = os.path.join(BUILD, f"prime-{os.getpid()}")
    try:
        code, _ = java(["prime", "--bench", BENCH, "--scratch", scratch, "--cores", str(cores)],
                       scratch, os.path.join(BUILD, "prime.log"), 600,
                       [f"-XX:ArchiveClassesAtExit={CDS}"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code != 0:
        fail(f"priming run failed (jvm exit {code}); log in {BUILD}/prime.log")
    with open(stamp, "w") as f:
        f.write(digest)


def java(main_args, scratch, log, timeout, jvm_opts=None):
    """Runs the benchmark's JVM; returns (exit code, stdout lines)."""
    cp = os.pathsep.join([JAR, os.path.join(SPARK_JARS, "*")])
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + main_args
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1, []
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--classify", action="store_true")
    ap.add_argument("--expect", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft not found")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cores = len(os.sched_getaffinity(0))
    build(cores)

    scratch = os.path.join(BUILD, f"run-{os.getpid()}")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    common = ["--bench", BENCH, "--scratch", scratch, "--cores", str(cores)]
    try:
        if args.classify or args.expect:
            mode = "classify" if args.classify else "expect"
            code, out = java([mode] + common, scratch, os.path.join(logs, f"{mode}.log"), 3000)
            print("\n".join(out))
            sys.exit(0 if code == 0 else 1)
        if not args.workload:
            fail("--workload is required")
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        out_file = os.path.join(BUILD, "results", f"{tag}.json")
        code, out = java(
            ["run", "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--out", out_file] + common,
            scratch, os.path.join(logs, f"{tag}.log"), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    result = None
    if code == 0 and out:
        try:
            result = json.loads(out[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print("\n".join(out), file=sys.stderr)
        fail(f"run failed (jvm exit {code}); log in {logs}/{tag}.log")
    for line in out[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
