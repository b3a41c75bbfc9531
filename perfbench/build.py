#!/usr/bin/env python3
"""Build the program and the benchmark from source.

Usage: python3 perfbench/build.py            (from the repository root)

Compiles the program's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution the repository builds against ($SPARK_HOME/jars,
the jar directory build.sbt names as its unmanaged base). No dependency is
resolved or downloaded. Classes land in .bench_build/classes-<hash>/, where
<hash> covers every source file, so an unchanged tree is built once and a
changed one is rebuilt. Prints the class directory on the last line.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_ROOT = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: SPARK_HOME must name a Spark distribution with a jars/ directory")
    return os.path.join(home, "jars")


def sources(root):
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"build: no program sources under {program}")
    files = []
    for d in (program, os.path.join(root, "perfbench", "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root="."):
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    compiler = [j for n in ("scala-compiler", "scala-library", "scala-reflect")
                for j in glob.glob(os.path.join(jars, n + "-2.13.*.jar"))]
    if len(compiler) != 3:
        raise SystemExit("build: the Spark jars hold no Scala 2.13 compiler")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
