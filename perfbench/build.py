#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala)
together with the benchmark's harness (perfbench/scala) into
perfbench/build/classes with the Scala compiler that ships in the Spark
jar directory ($SPARK_HOME/jars, else next to spark-submit on PATH).  Run from the root of a checkout:

    python3 perfbench/build.py

Skips the compile when no source changed since the last build.  Exits
non-zero when the program's sources are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                           recursive=True))
    return prog, own


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")
    return os.path.join(home, "jars")


def classpath():
    return f"{CLASSES}:{spark_jars()}/*"


def build(log=sys.stderr):
    prog, own = sources()
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for p in prog + own:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES] + prog + own
    # cwd outside the tree: scalac puts "." on its classpath
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=BUILD)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
