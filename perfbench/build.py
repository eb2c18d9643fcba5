#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME, or the one whose spark-submit is on PATH),
into <build dir>/classes.

    python3 perfbench/build.py [build_dir]

build_dir defaults to $CARGO_TARGET_DIR, else .bench_build. A stamp of the
sources' contents skips the build when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


class BuildError(Exception):
    pass


def spark_jars():
    """jars/ of $SPARK_HOME, else of the first distribution whose spark-submit
    is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise BuildError(f"no program sources under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    resources = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/*")))
    return program + bench, resources


def default_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(build_dir=None):
    """Compile if the sources changed; returns the classes directory."""
    build_dir = build_dir or default_dir()
    jars = spark_jars()
    srcs, resources = sources()
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_path = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    for r in resources:
        shutil.copy(r, classes)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else None))
    except BuildError as e:
        sys.exit(f"build: {e}")
