#!/usr/bin/env python3
"""Delta table-health benchmark.

Usage, from the repository root:

    python3 healthbench/run.py --workload scan_heavy --seed 1 --seconds 10 --trace 0

Builds the engine together with the benchmark's Scala sources (sbt, offline,
once per change of any source), then runs one JVM that generates the
workload's table from the seed, times the closed-loop client for the given
number of seconds and checks every result. The last line of standard output
is one JSON object: correct, attempted, failed and the metrics, end-to-end
ones with --trace 0 and per-layer ones with --trace 1. With --trace 1 the
spans are also written to .bench_build/healthbench/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "healthbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("scan_heavy", "many_files", "maintain")
DEADLINE_S = 170  # every run must end within 180 s
BUILD_DEADLINE_S = 850  # the first run in a checkout may take 900 s
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"

# Spark on JDK 17 outside spark-submit (the list build.sbt also uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"healthbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for src in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, deadline, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out, err


def build(home, deadline):
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return False
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        # resolve from the local caches only, through the user's repository
        # list when there is one
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        code, _, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
            deadline, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "operators", "HealthAnalyzer.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    home = spark_home()
    os.makedirs(OUT, exist_ok=True)
    built = build(home, start + BUILD_DEADLINE_S)

    work = os.path.join(OUT, f"run-{os.getpid()}")
    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    for sub in ("tables", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    trace_out = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")]),
            "graft.healthbench.HealthBench", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), os.path.join(work, "tables"),
            str(CORES), trace_out]
    deadline = start + (BUILD_DEADLINE_S if built else DEADLINE_S)
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as err:
            code, out, _ = run_bounded(cmd, deadline, cwd=work, stdout=subprocess.PIPE,
                                       stderr=err, text=True)
    except subprocess.TimeoutExpired:
        code, out = -1, ""
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run failed (exit {code})")
    with open(log) as fh:
        for line in fh:
            if line.startswith("FAILED "):
                sys.stderr.write(line)
    shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
