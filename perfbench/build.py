#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala compiler that ships inside
the Spark distribution, so the build needs neither sbt nor a network.
Output goes to .bench_build/ under the directory it is run from; a
content hash of every input skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classpath on success
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME's, else those of the
    first spark-submit on PATH that sits in a full distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(jars, "scala-compiler-2.13.*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution with Scala 2.13 jars found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("build: src/main/scala not found — run from the repo root")
    if not bench:
        raise SystemExit("build: perfbench/src has no sources")
    resources = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                       if os.path.isfile(p))
    return main + bench, resources


def digest(paths, jars):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(jars.encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    srcs, resources = sources()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    key = digest(srcs + resources, jars)
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"build: Scala 2.13 compiler jars not found in {jars}")
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp",
           os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", f"{jars}/*", "@" + argfile]
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: scalac failed")
    for r in resources:
        dst = os.path.join(classes, os.path.relpath(r, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp, "w") as f:
        f.write(key)
    return cp


if __name__ == "__main__":
    print(build())
