#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala`) together with the
benchmark's own Scala sources (`etlbench/src`) into `etlbench/.build/classes`
with the Scala compiler that ships in the Spark distribution, against the
same Spark jars the engine's sbt build uses. A stamp of the sources skips
the compile when nothing changed, so only the first run in a checkout pays
for it (about 30 s on 4 cores).

    python3 etlbench/build.py          # prints the classpath to run with
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution: `$SPARK_HOME/jars`, else next to
    a `spark-submit` on PATH, else those bundled with the pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if d and os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark jars found; set SPARK_HOME to a Spark distribution")


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars under {jars}")
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(OUT, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
