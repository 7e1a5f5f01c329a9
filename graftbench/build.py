#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main) together
with the benchmark's own Scala files (graftbench/scala) into one class
directory, with the Scala compiler and jars of the installed Spark ($SPARK_HOME).

Usage: python3 graftbench/build.py [repo_root]

The output goes to .bench_build/graftbench/classes under the repo root.
A build is skipped when a stamp of the same source hash is present.
"""
import glob
import hashlib
import os
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars_dir():
    """The jars directory of the installed Spark 4."""
    if not os.environ.get("SPARK_HOME"):
        raise RuntimeError("set SPARK_HOME to a Spark 4 installation")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise RuntimeError(f"no Spark jars under {spark_jars_dir()}")
    return jars


def sources(root):
    out = []
    for base in ("src/main/scala", "src/main/java", "graftbench/scala"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files
                    if f.endswith((".scala", ".java"))]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if needed; returns (classes_dir, source_hash)."""
    files = sources(root)
    if not any("/src/main/" in f for f in files):
        raise RuntimeError(f"no library sources under {root}/src/main")
    digest = source_hash(files)
    out = os.path.join(root, ".bench_build", "graftbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    jars = spark_classpath()
    cp = os.pathsep.join(jars)
    compiler = [os.path.join(spark_jars_dir(), f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[graftbench] compiling {len(files)} sources", file=log)
    # scalac reads the .java sources for their types; javac then
    # compiles them against the Scala classes
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                    "-classpath", cp, "@" + argfile],
                   check=True, stdout=log, stderr=log)
    java = [f for f in files if f.endswith(".java")]
    if java:
        subprocess.run(["javac", "-nowarn", "-d", classes,
                        "-cp", classes + os.pathsep + cp] + java,
                       check=True, stdout=log, stderr=log)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "."))[0])
