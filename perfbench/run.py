#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload catalog_sql --seed 1 --seconds 30 --trace 0

Run from the repository root. The script builds the program and the
benchmark harness from source (perfbench/build.py, once per source
change), writes
the benchmark tables (once), runs the harness in a JVM and prints its
output; the last line is the JSON result. Everything it writes goes
under `.bench_build/perfbench/` in the repository root.

Workloads: catalog_sql, llm_pipeline, ingest (see perfbench/README.md).
`--trace 1` reports the per-layer metrics instead of the end-to-end ones.

Maintenance modes (not benchmark runs):
    --pin <verify-out>   re-pin perfbench/fingerprints.tsv from a
                         graft.Verify output of the benchmark tables that
                         tools/check.py passed
    --census [data-dir]  one traced execution of all declared queries on
                         <data-dir> (default: the benchmark tables): the
                         full-suite layer split and the panel weights
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402
from build import tree_hash  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catalog_sql", "llm_pipeline", "ingest")
SCALE = "0.02"  # scale factor of the benchmark tables
DATA_SEED = "42"  # the tables never depend on the workload seed
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, cwd, env, timeout):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         start_new_session=True, text=True)
    try:
        stdout, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, ""
    return p.returncode, stdout or ""


def tables(root, work):
    """Writes the benchmark tables once; returns their directory."""
    gen = os.path.join(HERE, "datagen.py")
    key = tree_hash(root, ["perfbench/datagen.py"])[:12]
    out = os.path.join(work, "data", f"sf{SCALE}-{key}")
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out, "--sf", SCALE,
                        "--seed", DATA_SEED], check=True)
        open(os.path.join(out, "DONE"), "w").close()
    return out


def source_rev(root):
    rev = tree_hash(root, ["src/main"])[:12]
    stamp = ["--stamp", "source_sha256", rev]
    if os.path.isdir(os.path.join(root, ".git")) and shutil.which("git"):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True)
        if r.returncode == 0:
            stamp += ["--stamp", "git_rev", r.stdout.strip()]
    return stamp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--pin", metavar="VERIFY_OUT")
    ap.add_argument("--census", metavar="DATA_DIR", nargs="?", const="")
    a = ap.parse_args()
    if not (a.workload or a.pin or a.census is not None):
        ap.error("--workload is required")

    root = os.getcwd()
    for need in ("src/main/scala/graft/Queries.scala",
                 "perfbench/src/main/scala/perfbench/Main.scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    work = os.path.join(root, ".bench_build", "perfbench")
    for d in ("tmp", "stage", "spark-local", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)

    try:
        cp = build.build(root, work)
    except build.BuildError as e:
        fail(f"build failed\n{e}", 3)
    data = a.census or tables(root, work)
    census = a.census is not None
    args = ["--data", data, "--work", work,
            "--pins", os.path.join(HERE, "fingerprints.tsv")]
    if a.pin:
        args += ["--pin-from", os.path.abspath(a.pin)]
    elif census:
        args += ["--census"]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", a.trace]
        args += source_rev(root)

    env = dict(os.environ)
    env["GRAFT_STAGE_DIR"] = os.path.join(work, "stage")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "-cp", cp, "perfbench.Main"] + args
    timeout = None if (a.pin or census) else RUN_TIMEOUT_S
    code, out = run_child(cmd, root, env, timeout)
    lines = out.splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail("timed out" if code is None else f"harness exited with {code}", 1)
    if a.workload:
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("malformed result line", 1)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
