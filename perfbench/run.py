#!/usr/bin/env python3
"""Runs one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the benchmark (perfbench/build.sbt: the benchmark's sources plus the
program's src/main/scala, offline, against the Spark jars of the local Spark
installation) when its sources changed, then runs the workload in one JVM
with a private tmp dir, spark.local.dir and table root that are removed
afterwards. The last stdout line is the JSON result. A traced run also
writes its spans and counters to perfbench/target/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("mapreduce_corpus", "lake_rw", "stream_to_lake")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"
OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the benchmark's and the program's sources."""
    tops = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = [f for f in tops if os.path.isfile(f)]
    for d in (os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main", "scala")):
        for base, dirs, names in os.walk(d):
            dirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_cmd():
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    return cmd


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    os.makedirs(TARGET, exist_ok=True)
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    with open(os.path.join(TARGET, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == want:
                    with open(cp_file) as g:
                        return g.read().strip()
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        proc = subprocess.run(sbt_cmd() + ["compile", "export Runtime/fullClasspath"],
                              cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True, timeout=BUILD_LIMIT_S)
        lines = [l.strip() for l in proc.stdout.splitlines()
                 if "perfbench" in l and "/classes" in l and not l.startswith("[")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout)
            fail(f"build failed (sbt exit {proc.returncode})", 3)
        with open(cp_file, "w") as f:
            f.write(lines[-1])
        with open(stamp_file, "w") as f:
            f.write(want)
        return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala")

    cp = build()
    run_dir = os.path.join(TARGET, "runs", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    trace_file = os.path.join(TARGET, "traces", f"{args.workload}-seed{args.seed}.json")
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", p)] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", run_dir, "--trace-file", trace_file]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_MASTER", "GRAFT_PLAN_DUMP")}
    # A SIGTERM to this script must not orphan the JVM: turn it into an
    # exception so the cleanup below runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} did not finish within {RUN_LIMIT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    if proc.returncode != 0 or not lines:
        fail(f"{args.workload} exited with {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}", 6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
