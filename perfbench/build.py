#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) into .bench_build/perfbench/classes with the Scala compiler
that ships among the Spark jars, the same jars build.sbt compiles against.

    python3 perfbench/build.py          # build if any source changed

Writes only under .bench_build/ of the checkout.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among {jars} (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"perfbench: {main}/graft is missing; run from a full checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile unless the stamp matches the current sources."""
    files = sources()
    jars = spark_jars()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={OUT}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "-nowarn", "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


if __name__ == "__main__":
    build()
