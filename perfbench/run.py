#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload ivf_point --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the benchmark together
with the engine's sources (sbt, offline, into perfbench/target) and records
the classpath; later runs start the JVM directly and rebuild only when a
source file changed. Everything a run writes stays under perfbench/.
Extra arguments after the four required ones (e.g. ``--nprobe 40``) are
passed to the benchmark program.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-build.json")
WORK = os.path.join(HERE, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    inputs = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt (offline) unless the recorded build is current;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            rec = json.load(f)
        if rec.get("stamp") == stamp:
            return rec["classpath"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def parse_result(stdout):
    """The last stdout line, checked to be a well-formed result object."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        raise ValueError("no output")
    res = json.loads(lines[-1])
    if set(res) != RESULT_KEYS:
        raise ValueError("result keys %s" % sorted(res))
    if not isinstance(res["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(res[k], int) or isinstance(res[k], bool) or res[k] < 0:
            raise ValueError("%s is not a count" % k)
    if res["attempted"] < 1 or res["failed"] > res["attempted"]:
        raise ValueError("attempted %d, failed %d" % (res["attempted"], res["failed"]))
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError("metric %s is malformed" % name)
    return res


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args, extra = ap.parse_known_args(argv)

    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "GraftEngine.scala")):
        raise SystemExit("perfbench: the engine's sources (src/main/scala) are missing; "
                         "run from the root of a graft checkout")
    classpath = build()

    work = os.path.join(WORK, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed-size heap under the parallel collector: under G1 each of
    # Spark's on-heap execution memory pages (32 MB at this heap size and
    # core count) is a humongous allocation, and the pauses and concurrent
    # cycles they set off varied a curate pass by a fifth from one pass to
    # the next. The metaspace starts large enough that generated classes
    # set off no full collections.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false",
            # the status store keeps the latest jobs, stages, tasks and SQL
            # executions even with the UI off; small caps keep the live heap
            # independent of how many operations a run fits in
            "-Dspark.ui.retainedJobs=50",
            "-Dspark.ui.retainedStages=50",
            "-Dspark.ui.retainedTasks=1000",
            "-Dspark.sql.ui.retainedExecutions=50",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(work, "data")] + extra)
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if args.trace == "1" and os.path.exists(os.path.join(work, "data", "trace.jsonl")):
            shutil.copy(os.path.join(work, "data", "trace.jsonl"),
                        os.path.join(WORK, "trace-%s-%d.jsonl" % (args.workload, args.seed)))
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit("perfbench: benchmark exited with %d" % proc.returncode)
    try:
        res = parse_result(proc.stdout)
    except ValueError as e:
        sys.stderr.write(proc.stdout[-2000:])
        raise SystemExit("perfbench: bad result line: %s" % e)
    print(json.dumps(res))


if __name__ == "__main__":
    main(sys.argv[1:])
