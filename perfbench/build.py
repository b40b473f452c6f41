#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships among the Spark jars, into
`perfbench/.build/classes`. A stamp of the sources' hash skips the compile
when nothing changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
def spark_home():
    """SPARK_HOME, or else the first `spark-submit` on the PATH whose install
    ships the jars the build needs (the Scala compiler among them)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
            jars = os.path.join(home, "jars")
            if os.path.isdir(jars) and any(n.startswith("scala-compiler") for n in os.listdir(jars)):
                return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, names in os.walk(base):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Compile if needed; return the sources' hash."""
    files = sources()
    digest = source_hash(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return digest
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("build: Spark jars not found; set SPARK_HOME")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    os.makedirs(os.path.join(BUILD, "tmp"))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"), "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(SPARK_JARS, "*"), "@" + args_file]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"build: scalac failed ({res.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return digest


if __name__ == "__main__":
    print(build())
