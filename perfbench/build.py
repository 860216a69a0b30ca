"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark harness (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in the Spark jars.
The build is skipped when a previous build of identical sources exists.

Run from the repository root: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = "/opt/spark/jars"
SCALA = "2.13.17"
OUT = ".bench_build"
CLASSES = os.path.join(OUT, "classes")
BENCH_SRC = os.path.join("perfbench", "src")
ENGINE_SRC = os.path.join("src", "main", "scala")
RESOURCES = os.path.join("src", "main", "resources")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                             recursive=True))
    return engine + bench


def classpath():
    """Runtime classpath: the build output, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(SPARK_JARS, "*")])


def build():
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        os.path.join(SPARK_JARS, f"scala-{j}-{SCALA}.jar")
        for j in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(SPARK_JARS, "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
