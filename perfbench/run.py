#!/usr/bin/env python3
"""User-traffic benchmark for the dp3spark library.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 21 --trace 0

Builds the benchmark (this directory's sbt project, which compiles the
library sources beside its own) once per source state, then runs one
workload in a fresh JVM. The JVM prints a host line, a detail line and,
last, the result object; this wrapper forwards them and exits with the
JVM's code. Workloads and metrics are described in perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
LIB_SRC = REPO / "src" / "main" / "scala"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"

# Spark 4 on JDK 17 needs these when the session starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        return Path(submit).resolve().parent.parent
    fail("no Spark install: set SPARK_HOME")


def source_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for root in (LIB_SRC, HERE / "src"):
        files += sorted(root.rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(env):
    digest = source_digest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.exists():
        return
    print("perfbench: building", file=sys.stderr)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode})")
    STAMP.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not LIB_SRC.is_dir():
        fail(f"library sources not found at {LIB_SRC}")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = str(spark_home())
    build(env)

    cwd = Path.cwd()
    out_dir = cwd / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    run_root = cwd / ".bench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    (run_root / "tmp").mkdir(parents=True)
    tag = f"{args.workload}-{args.seed}"
    java = (Path(env["JAVA_HOME"]) / "bin" / "java"
            if env.get("JAVA_HOME") else "java")
    cmd = [str(java), "-Xmx3g", "-XX:ReservedCodeCacheSize=256m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_root / 'tmp'}",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{Path(env['SPARK_HOME']) / 'jars' / '*'}",
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--root", str(run_root),
            "--spans", str(out_dir / f"spans-{tag}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=run_root, env=env,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(run_root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print("\n".join(lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
