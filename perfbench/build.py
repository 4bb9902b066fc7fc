"""Build file of the benchmark package: compiles the engine (the repo's
src/main/scala) together with the harness (perfbench/src) into one
class directory, with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py            # prints the class directory

A stamp over every source file and the compiler flags skips the
compile when nothing changed, so only the first run in a checkout
pays for it.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
OUT = os.path.join(HERE, ".build")
SCALAC_FLAGS = ["-deprecation:false", "-nowarn"]


def spark_jars():
    """The Spark jar directory the repo's build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    files = []
    for root in SOURCE_ROOTS:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles if needed and returns the class directory."""
    files = sources()
    if not any(f.endswith(os.path.join("graft", "SparkEntry.scala")) for f in files):
        raise SystemExit("build: no graft sources under " + SOURCE_ROOTS[0])
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-d", classes,
           "-classpath", os.path.join(spark_jars(), "*")] + SCALAC_FLAGS + files
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"build: scalac exited with {proc.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
