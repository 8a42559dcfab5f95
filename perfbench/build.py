"""Build file of the benchmark harness.

Compiles the library's sources (`src/main/scala` at the repo root) together
with the harness (`perfbench/src`) into `perfbench/.build/classes`, using
the Scala compiler that ships among the Spark jars. The build is skipped
when a stamp records the same source digest.

    python3 perfbench/build.py          # build if needed, print the class dir
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the library's build.sbt
    names as its `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def classpath():
    return os.path.join(spark_jars(), "*")


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                         recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile when the sources changed. Returns (class dir, source digest,
    whether this call compiled)."""
    files = sources()
    lib = [f for f in files if not f.startswith(BENCH + os.sep)]
    if not lib:
        raise RuntimeError("no library sources under src/main/scala")
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler among the Spark jars in {spark_jars()}")
    d = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == d:
        return CLASSES, d, False
    if os.path.exists(STAMP):
        os.remove(STAMP)
    os.makedirs(CLASSES, exist_ok=True)
    for old in glob.glob(os.path.join(CLASSES, "**", "*.class"), recursive=True):
        os.remove(old)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", classpath(), "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(d)
    return CLASSES, d, True


if __name__ == "__main__":
    print(build()[0])
