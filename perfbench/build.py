#!/usr/bin/env python3
"""Build step of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/src`) with the Scala compiler that ships
in Spark's jar directory, the one the sbt build compiles against.

    python3 perfbench/build.py

Output goes to `.bench_build/` at the repository root. A stamp over every
source file skips the compile when nothing changed. Exits non-zero when
the engine sources are missing or do not compile.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "build.stamp")


def spark_jars() -> str:
    """`$SPARK_HOME/jars`, else the jar directory the sbt build names
    (`unmanagedBase` in build.sbt)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m is None:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no jar directory")
    return m.group(1)


# Spark on JDK 17 outside spark-submit needs these (the sbt build's list).
# -XX:-UsePerfData below keeps the JVMs from writing their perf file to /tmp.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def classpath() -> str:
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def harness_cmd(args):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", *ADD_OPENS, "-Xmx3g", "-Xmn768m", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-cp", classpath(), "perfbench.Harness"] + list(args))


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    return engine, harness


def build() -> str:
    """Compiles when a source changed; returns the stamp of the sources."""
    engine, harness = sources()
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    h = hashlib.sha256()
    for path in engine + harness:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(engine + harness))
    print(f"[perfbench] compiling {len(engine)} engine + {len(harness)} "
          "harness sources", file=sys.stderr, flush=True)
    scalac = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
              "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
              "-classpath", os.path.join(jars, "*"), f"@{argfile}"]
    if subprocess.run(scalac, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return stamp


if __name__ == "__main__":
    build()
