#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/classes` with the Scala compiler that ships among
Spark's jars, and skips the compile when no source changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCES = ["src/main/scala", "src/main/resources", "perfbench/src"]


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else next to the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def jar_list(jars):
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def source_files():
    for rel in SOURCES:
        base = os.path.join(ROOT, rel)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {rel}")
    out = []
    for rel in SOURCES:
        for d, _, files in os.walk(os.path.join(ROOT, rel)):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath; builds first when the sources changed."""
    jars = jar_list(spark_jars())
    files = source_files()
    want = digest(files, jars)
    stamp = os.path.join(CLASSES, ".digest")
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        compile_all(files, jars, want)
    return os.pathsep.join([CLASSES] + jars)


def compile_all(files, jars, want):
    scala = [j for j in jars if os.path.basename(j).split("-2.")[0] in
             ("scala-compiler", "scala-library", "scala-reflect")]
    if len(scala) != 3:
        raise BuildError("the Scala compiler jars are not among Spark's jars")
    staging = CLASSES + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    scala_files = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala_files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", staging, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("compile failed:\n" + res.stdout[-4000:])
    resources = os.path.join(ROOT, "src/main/resources")
    shutil.copytree(resources, staging, dirs_exist_ok=True)
    with open(os.path.join(staging, ".digest"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    try:
        classpath()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print("built", CLASSES)
