#!/usr/bin/env python3
"""Run one benchmark workload from the repo root.

    python3 perfbench/run.py --workload render_dashboard --seed 1 \\
        --seconds 10 --trace 0

Builds the program and the benchmark (perfbench/build.py, cached under
.bench_build/), then runs perfbench.Main in one JVM with a fresh scratch
directory under .bench_build/ that is deleted afterwards. The last line
of stdout is the result JSON; a run that fails or overruns exits non-zero
without one.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("render_dashboard", "carbon_ingest")
TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit injects (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit():
    """The checkout's git commit, when it is a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be positive")

    classpath = build.build()
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=build.BUILD_DIR)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={root}",
           "-Dlog4j2.configurationFile=" + os.path.join(
               os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", root, "--commit", commit()]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside the run dir
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s and was killed")
    shutil.rmtree(root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
