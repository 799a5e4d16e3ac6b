"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) from source with the Scala compiler that ships in
the Spark distribution, into .bench_build/perfbench/classes-<digest>.

    python3 perfbench/build.py        # prints the classes directory

A build is reused while no source file changes (the digest covers every
source path and its bytes). Fails when the engine sources are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME's, or else those next
    to the first `bin/spark-submit` on PATH that has them."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    srcs = sources()
    classes = os.path.join(OUT, "classes-" + digest(srcs))
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old)
    os.makedirs(classes)
    jars = spark_jars()
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", classes] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(classes, ".done"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
