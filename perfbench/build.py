#!/usr/bin/env python3
"""Builds the program (src/main) and the benchmark harness (perfbench/src)
from source with the Scala compiler that ships with Spark, into
.bench_build/<hash of the sources>/. A build whose sources are unchanged is
reused.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "src/main/java", "perfbench/src"]


def jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        sys.exit("no Spark jar directory: set SPARK_HOME")


def spark_jars():
    jars = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    if not jars:
        sys.exit("no Spark jars under %s" % jar_dir())
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith((".scala", ".java"))]
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in out):
        sys.exit("no program sources under %s/src/main" % ROOT)
    return sorted(out)


def build():
    """Returns the classes directory, building it when it is missing."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(ROOT, ".bench_build", digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    classpath = ":".join(jars)
    compiler = ":".join(j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-")))
    tmp = "%s.tmp%d" % (out, os.getpid())
    os.makedirs(tmp)
    try:
        subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", classpath, "-d", tmp] + srcs,
            check=True, stdout=sys.stderr)
        java = [s for s in srcs if s.endswith(".java")]
        if java:
            subprocess.run(["javac", "-nowarn", "-d", tmp, "-cp",
                            tmp + ":" + classpath] + java,
                           check=True, stdout=sys.stderr)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
