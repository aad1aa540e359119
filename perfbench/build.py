"""Build file of the benchmark: compiles the engine sources and the
benchmark's own Scala sources into one class directory with scalac
(scala-compiler ships among the Spark jars of $SPARK_HOME), skipping the
compile when no source changed since the last build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SOURCES = "src/main/scala"
BENCH_SOURCES = "perfbench/scala"


def spark_jars(root="."):
    """$SPARK_HOME/jars, else the `unmanagedBase` jar directory of build.sbt."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars) and os.path.exists(os.path.join(root, "build.sbt")):
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else jars
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 installation")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    files = []
    for d in (ENGINE_SOURCES, BENCH_SOURCES):
        if not os.path.isdir(os.path.join(root, d)):
            raise SystemExit(f"perfbench: missing source directory {d}/")
        files += sorted(glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True))
    return files


def build(root, log=sys.stderr):
    """Return the class directory, compiling first if any source changed."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(root), "classes")
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + files
    print(f"perfbench: compiling {len(files)} sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
