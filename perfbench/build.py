#!/usr/bin/env python3
"""Build the engine and the benchmark into one class directory.

    python3 perfbench/build.py

Compiles the engine's sources (src/main/scala) together with the
benchmark's (perfbench/src) using the Scala compiler that ships among
Spark's jars, so no build tool and no download is needed. The output
goes to perfbench/.build/<digest>/classes, where the digest covers every
source file and the jar list; an unchanged tree reuses the previous
build. Prints the class directory.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise RuntimeError("no Spark jars found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise RuntimeError("engine sources (src/main/scala) not found next to perfbench/")
    return engine + bench


def ensure_built():
    """Return the class directory for the current sources, compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes

    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise RuntimeError("the Scala compiler, library and reflect jars must sit among Spark's jars")
    stage = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(os.path.join(stage, "classes"))
    argfile = os.path.join(stage, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-classpath", os.pathsep.join(jars), "-d", os.path.join(stage, "classes"),
           "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError("compilation failed:\n" + res.stdout[-4000:])
    os.remove(argfile)
    # keep only the build of the current sources
    for old in glob.glob(os.path.join(BUILD, "*")):
        if old != stage:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(stage, out)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
