#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, into `perfbench/build/classes`.

A build is skipped when the stamp file still matches a hash of every source
file. Spark's jars are found through `SPARK_HOME`, or else through
`spark-submit` on the `PATH`.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("engine sources not found under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + own


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources")]
                           + spark_jars())


def ensure_built(log=sys.stderr):
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Scala compiler jars are missing from Spark's jar directory")
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise BuildError("compilation failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(classpath())
