#!/usr/bin/env python3
"""Builds graft and the benchmark harness from source.

    python3 perfbench/build.py [work-dir]

Run from the repository root. Compiles the program's sources
(`src/main/scala`) and the harness's (`perfbench/src/main/scala`) in one
pass of the Scala compiler that ships with Spark, against the Spark
jars the program's build.sbt names, into `<work-dir>/classes`, and
prints the runtime classpath. The build is skipped when no source has
changed since the last one. Nothing is written outside `<work-dir>`
(default `.bench_build/perfbench`): no build tool, no dependency cache,
no home directory.
"""
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

SOURCES = ["src/main/scala", "perfbench/src/main/scala"]
RESOURCES = ["src/main/resources", "perfbench/src/main/resources"]
BUILD_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def tree_hash(root, paths):
    """sha256 over the named files and directory trees under root."""
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(root, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jar directory the program compiles against: the
    `unmanagedBase` its build.sbt names, else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'^unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read(), re.M)
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if os.path.isdir(jars) and any(
                f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     f"(tried {candidates}): set SPARK_HOME")


def run_group(cmd, cwd, timeout, log):
    """Runs cmd in its own process group, output to log; kills the group
    on timeout. Returns the exit code, None on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(root, work):
    """Compiles program and harness if a source changed; returns the
    runtime classpath. Raises BuildError when compiling fails."""
    jars = spark_jars(root)
    classes = os.path.join(work, "classes")
    cp = os.pathsep.join([classes] + [os.path.join(root, r) for r in RESOURCES]
                         + [os.path.join(jars, "*")])
    stamp = tree_hash(root, SOURCES)
    state = os.path.join(work, "build.json")
    if os.path.exists(state):
        with open(state) as fh:
            if json.load(fh) == {"stamp": stamp, "classpath": cp}:
                return cp
    sources = sorted(os.path.join(d, f) for s in SOURCES
                     for d, _, fs in os.walk(os.path.join(root, s))
                     for f in fs if f.endswith(".scala"))
    tmp = os.path.join(work, "tmp")
    staging = classes + ".new"
    os.makedirs(tmp, exist_ok=True)
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args = os.path.join(work, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(["-usejavacp", "-deprecation", "-feature",
                            "-d", staging] + sources) + "\n")
    log = os.path.join(work, "build.log")
    t0 = time.time()
    code = run_group(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "@" + args], root, BUILD_TIMEOUT_S, log)
    if code != 0:
        with open(log) as fh:
            tail = fh.read().splitlines()[-30:]
        raise BuildError("\n".join(tail + [
            "compiler timed out" if code is None else f"compiler exited with {code}"]))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(state, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    root = os.getcwd()
    work = os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                           else os.path.join(root, ".bench_build", "perfbench"))
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        print("perfbench: run from the root of a graft checkout", file=sys.stderr)
        sys.exit(2)
    os.makedirs(work, exist_ok=True)
    try:
        print(build(root, work))
    except BuildError as e:
        print(f"perfbench: build failed\n{e}", file=sys.stderr)
        sys.exit(3)


if __name__ == "__main__":
    main()
