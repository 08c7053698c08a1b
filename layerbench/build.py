"""Build file of the layered benchmark.

Compiles the program's sources (`src/main/scala`) together with the
benchmark harness (`layerbench/src`) into `.layerbench/build/classes`,
using the Scala compiler that ships in the Spark distribution's jars
(`$SPARK_HOME/jars`, or the installed pyspark's). Nothing is fetched.
A stamp of every source file's content skips the build when nothing
changed. Run from the repository root:

    python3 layerbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".layerbench", "build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        sys.exit("layerbench: no Spark jars (set SPARK_HOME)")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    files = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile when a source changed; return the run classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit("layerbench: program sources not found under src/main/scala")
    jars = spark_jars()
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", f"{jars}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("layerbench: compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
