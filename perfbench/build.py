#!/usr/bin/env python3
"""Compile the library (src/main/scala) and the benchmark (perfbench/src)
into one class directory with the Scala compiler that ships in Spark's
jars directory ($SPARK_HOME/jars, else build.sbt's unmanagedBase); no sbt,
no dependency resolution.

Usage, from the repository root:  python3 perfbench/build.py
Prints the class directory. Sources are hashed, so an unchanged tree
reuses its earlier build under .bench_build/perfbench/.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one build.sbt names."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("SPARK_HOME is unset and build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"), recursive=True))
    return lib, bench


def build():
    """Return the class directory, compiling first if the sources changed."""
    lib, bench = sources()
    if not lib:
        raise RuntimeError("no library sources under src/main/scala: run from a full checkout")
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise RuntimeError(f"no Scala compiler in {spark_jars()}")
    digest = hashlib.sha256()
    for path in lib + bench + compiler:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(OUT, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "javatmp"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(lib + bench) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}/javatmp",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-usejavacp:false", "-classpath", os.pathsep.join(jars),
           "-d", tmp, "-nowarn", "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(os.path.join(tmp, "javatmp"))
    os.remove(argfile)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
