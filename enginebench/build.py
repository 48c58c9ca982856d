#!/usr/bin/env python3
"""Build file of the engine benchmark.

Compiles the engine (src/main/scala) together with the benchmark's own
sources (enginebench/src) with the Scala compiler that ships in Spark's
jars, into .bench_build/enginebench/classes. The build is skipped when the
sources are unchanged since the last one (a hash of every source file is
kept next to the classes).

    python3 enginebench/build.py      # build if stale, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "enginebench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not any("scala-compiler" in j for j in jars):
        raise BuildError("Spark's jars (with scala-compiler) not found; set SPARK_HOME")
    return jars


def sources():
    main = SOURCE_DIRS[0]
    if not os.path.isdir(main):
        raise BuildError(f"engine sources missing: {os.path.relpath(main, ROOT)} "
                         "(run from a checkout of the repository)")
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__), os.path.join(BENCH, "log4j2.properties")]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_env():
    """JVM flags that keep scratch files inside the build directory."""
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build():
    """Build if stale; return the runtime classpath entries."""
    jars = spark_jars()
    files = sources()
    classes = os.path.join(OUT, "classes")
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return [classes] + jars
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g"] + java_env() + [
        "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.copy(os.path.join(BENCH, "log4j2.properties"), tmp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return [classes] + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
