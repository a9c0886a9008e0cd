#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's JVM side (logbench/src) with
the Scala compiler that ships with Spark, into .bench_build/logbench/.

The output directory is keyed by a digest of every source file, so an
unchanged tree is never rebuilt and a changed one always is.

Usage: python3 logbench/build.py        (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_ROOT = os.path.join(".bench_build", "logbench")


def spark_jars(root):
    """The Spark jars directory: $SPARK_HOME/jars, else the repository
    build's `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "logbench", "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no benchmark sources under logbench/src")
    return engine + bench


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(root="."):
    """Return the classpath (classes dir + Spark jars), compiling if needed."""
    jars = spark_jars(root)
    files = sources(root)
    out = os.path.join(root, BUILD_ROOT, "classes-" + digest(root, files))
    cp = out + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(os.path.join(out, "logbench", "Main.class")):
        return cp
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    if not compiler:
        raise SystemExit(f"build: no scala-compiler jar under {jars}")
    tool_cp = os.pathsep.join(compiler + sorted(glob.glob(os.path.join(jars, "scala-library-*.jar")))
                              + sorted(glob.glob(os.path.join(jars, "scala-reflect-*.jar"))))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(root, BUILD_ROOT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", tool_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + args_file]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    # keep only this build
    for old in glob.glob(os.path.join(root, BUILD_ROOT, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return cp


if __name__ == "__main__":
    print(ensure_built())
