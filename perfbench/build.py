"""Build file of the benchmark: compiles the library's sources and the
benchmark's own Scala sources into one class directory.

    python3 perfbench/build.py

The Scala compiler and Spark come from `$SPARK_HOME/jars` (Spark 4 ships
scala-compiler 2.13), the same jars the library's sbt build compiles
against. A stamp over every source file and the jar listing skips the
compile when nothing changed. Output goes to `perfbench/.build/`.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
LIB_SOURCES = os.path.join(REPO, "src", "main", "scala")
BENCH_SOURCES = os.path.join(HERE, "jvm")
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError("SPARK_HOME must point at a Spark 4 install whose jars/ "
                         "holds scala-compiler 2.13")
    return jars


def java():
    home = os.environ.get("JAVA_HOME", "")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java on PATH or JAVA_HOME")
    return exe


def sources():
    if not os.path.isdir(LIB_SOURCES):
        raise BuildError(f"library sources not found: {LIB_SOURCES}")
    found = []
    for root in (LIB_SOURCES, BENCH_SOURCES):
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def build(log=sys.stderr):
    """Compile if any source changed; returns the run classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, REPO).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-classpath", os.pathsep.join(jars), "-nowarn",
           "-d", CLASSES,
           "-Ybackend-parallelism", "2", "@" + args_file]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if done.returncode != 0:
        raise BuildError("compile failed:\n" + done.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
