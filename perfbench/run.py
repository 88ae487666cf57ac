#!/usr/bin/env python3
"""Benchmark launcher for the Spark QC pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload cron_15min --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt on first use
(the classpath is cached under perfbench/.work/build and rebuilt when a
source file is newer), then runs one benchmark JVM. The JVM prints a
report; its last line, which this script prints last, is the result JSON.
All files the run writes stay under perfbench/.work.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
CLASSPATH_FILE = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("cron_15min", "query_mix")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, n) for n in names)
    for f in files:
        if f.endswith((".scala", ".java", ".sbt", ".properties")) and os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    if os.path.isfile(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    print("perfbench: building program and benchmark with sbt", file=sys.stderr)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})", 3)
    lines = [l.strip() for l in out.splitlines() if os.pathsep in l and ".jar" in l]
    if not lines:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath", 3)
    classpath = lines[-1]
    with open(CLASSPATH_FILE, "w") as f:
        f.write(classpath + "\n")
    print(f"perfbench: build took {time.time() - t0:.0f} s", file=sys.stderr)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources: {os.path.join(ROOT, need)} is missing")

    classpath = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [
        "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath,
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", WORK,
        "--data", os.path.join(HERE, "data", "sf0.01"),
        "--manifest", os.path.join(HERE, "expected", "verify_manifest_sf0.01.jsonl"),
    ]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=WORK, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"benchmark run exceeded {RUN_TIMEOUT_S} s", 4)
    if code != 0:
        sys.stdout.write(out.rsplit("\n{", 1)[0] if out else "")
        fail(f"benchmark JVM exited with {code}", 5)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
