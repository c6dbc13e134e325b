#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's main sources together with
the benchmark's own sources (ingestbench/src) using the Scala compiler that
ships in Spark's jar directory, into .bench_build/classes-<source hash>.

A build whose sources are unchanged is reused. Run it directly to build
without running anything:

    python3 ingestbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler under {jars!r} (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(MAIN) or not os.path.isdir(RESOURCES):
        raise BuildError(f"program sources not found under {ROOT}/src/main")
    main = sorted(glob.glob(os.path.join(MAIN, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main or not bench:
        raise BuildError("no Scala sources to build")
    return main + bench


def digest(files):
    h = hashlib.sha256()
    res = sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True))
    for f in files + [f for f in res if os.path.isfile(f)] + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([classes, RESOURCES, os.path.join(spark_jars(), "*")])


def render_cache(cp):
    """Directory for inputs rendered by this build (see `Rendered` in src/Streams.scala)."""
    classes = cp.split(os.pathsep)[0]
    return os.path.join(BUILD, "render-" + os.path.basename(classes)[len("classes-"):])


def ensure(log=sys.stderr):
    """Returns the runtime classpath, compiling first if sources changed."""
    files = sources()
    jars = spark_jars()
    classes = os.path.join(BUILD, "classes-" + digest(files))
    if os.path.exists(os.path.join(classes, ".done")):
        return classpath(classes)
    for old in glob.glob(os.path.join(BUILD, "classes-*")) + \
            glob.glob(os.path.join(BUILD, "render-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))[0]
        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + files
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return classpath(classes)


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
