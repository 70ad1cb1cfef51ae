#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark runner (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in the Spark distribution.

Run from the repository root:  python3 perfbench/build.py
The build is skipped when .bench_build/stamp matches the current sources.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src/main/scala"]
RESOURCE_DIR = "src/main/resources"


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    bin/spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")


def sources():
    out = []
    for root in SOURCE_DIRS:
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench: missing source directory {root} "
                             "(run from the repository root)")
        for d, _, files in os.walk(root):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    if not os.path.isdir(RESOURCE_DIR):
        raise SystemExit(f"perfbench: missing resource directory {RESOURCE_DIR}")
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, the library's resources (the
    DataSourceRegister service file), and the Spark jars."""
    return os.pathsep.join([os.path.join(BUILD_DIR, "classes"), RESOURCE_DIR,
                            os.path.join(spark_jars(), "*")])


def build(quiet=False):
    files = sources()
    want = digest(files)
    stamp = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    classes = os.path.join(BUILD_DIR, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    if not quiet:
        sys.stderr.write(res.stdout)
    with open(stamp, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
