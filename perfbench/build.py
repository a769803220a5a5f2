#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) into one class directory with the Scala
compiler that ships with the Spark distribution.

Usage: python3 perfbench/build.py    (from the repository root)

Output goes to $CARGO_TARGET_DIR or .bench_build (relative to the root):
  classes/   compiled classes
  stamp      hash of every compiled source; a matching stamp skips the build
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
ENGINE_RES = "src/main/resources"
BENCH_SRC = "perfbench/src"


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def sources():
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        out += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(out)


def compiler_jars(spark_jars):
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(spark_jars, name + "-2.13.*.jar")))
        if not found:
            raise SystemExit(f"build: {name} jar not found under {spark_jars}")
        jars.append(found[-1])
    return jars


def classpath(spark_jars):
    """Runtime class path: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([os.path.join(build_dir(), "classes"), ENGINE_RES,
                            os.path.join(spark_jars, "*")])


def ensure_built():
    """Compile unless the stamp matches the current sources. Returns the
    class path; exits non-zero when the engine sources are missing."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        raise SystemExit("build: run from the repository root "
                         f"(need {ENGINE_SRC} and {BENCH_SRC})")
    spark_jars = spark_jars_dir()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = build_dir()
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath(spark_jars)
    classes = os.path.join(out, "classes")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler_jars(spark_jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(spark_jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(spark_jars)


if __name__ == "__main__":
    ensure_built()
    print(f"built into {build_dir()}/classes", file=sys.stderr)
