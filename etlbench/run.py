#!/usr/bin/env python3
"""Runs one benchmark workload against the program in this checkout.

    python3 etlbench/run.py --workload <etl_load|curation_dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark harness from source with sbt (the etlbench project depends on the
program's own build in the parent directory); later runs start the harness
with plain `java` on the recorded classpath. All scratch data, Spark
local dirs and traces stay under `.bench_build/` in the checkout.

The last line of standard output is the result record:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it is a detail record with the machine description, the
workload's own named metrics and any correctness problems.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
STAMP = os.path.join(BUILD, "build-stamp")
WORKLOADS = ("etl_load", "curation_dedup")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_fingerprint():
    """Newest modification time and file count over everything the build reads."""
    newest, count = 0.0, 0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
                count += 1
    for f in (os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties"),
              os.path.join(ROOT, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return f"{newest:.6f}:{count}"


def run_limited(cmd, cwd, env, limit, stdout=None):
    """Runs cmd in its own process group; kills the group past `limit` seconds."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(env):
    fp = sources_fingerprint()
    if (os.path.exists(CLASSPATH) and os.path.exists(STAMP)
            and open(STAMP).read() == fp):
        return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(env)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx3g")
    t0 = time.time()
    code = run_limited(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"), "-J-XX:-UsePerfData",
         "compile", "writeClasspath"],
        BENCH, env, BUILD_LIMIT_S, stdout=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})", 1)
    with open(STAMP, "w") as f:
        f.write(fp)
    print(f"etlbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def main():
    # a terminated run must still stop its sbt or java child (see run_limited)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout that holds the program sources "
             "(src/main/scala/graft not found)")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    build(env)
    cp = open(CLASSPATH).read().strip()
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", ROOT]
    sys.stdout.flush()
    code = run_limited(cmd, ROOT, env, RUN_LIMIT_S)
    if code != 0:
        fail(f"{a.workload} exited with {code}", 1)


if __name__ == "__main__":
    main()
