#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--tiny]

Run from the root of a checkout of the program. The first run builds the
program and the benchmark from source with sbt (offline); later runs reuse
the build. Each run starts a fresh JVM, which generates the run's inputs
from the seed, warms up, measures for the given seconds, checks the outputs
and prints the metrics. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Everything the run
writes stays under perfbench/.work/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "build", "classpath.txt")
WORKLOADS = ("nexmark_stream", "sql_batch", "curation")
RUN_LIMIT_S = 175      # a run must end within 180 s
BUILD_LIMIT_S = 840    # the first run in a checkout may take 900 s

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, limit_s, env=None):
    """Run a command in its own process group; kill the group on timeout.
    Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{' '.join(cmd[:2])} ran longer than {limit_s} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile the program and the benchmark once per checkout; return the
    runtime classpath."""
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            return f.read().strip()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not "
             "next to the benchmark; run from the root of a checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the program", 2)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -XX:-UsePerfData -Xmx3g")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], HERE, BUILD_LIMIT_S, env)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the self-check")
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive", 2)
    start = time.time()
    cp = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed heap and fixed generation sizes keep the resident set from
    # depending on the collector's resizing decisions
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", run_dir, "--home", HERE] + (["--tiny"] if a.tiny else [])
    limit = 600 if a.tiny else max(30.0, RUN_LIMIT_S - (time.time() - start))
    try:
        code, out = run_bounded(cmd, run_dir, limit)
    finally:
        spans = os.path.join(WORK, "spans")
        for f in os.listdir(run_dir) if os.path.isdir(run_dir) else []:
            if f.startswith("spans-"):
                os.makedirs(spans, exist_ok=True)
                shutil.move(os.path.join(run_dir, f), os.path.join(spans, f))
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"the run failed (exit {code})")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(out)
        fail("the run printed no result")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
