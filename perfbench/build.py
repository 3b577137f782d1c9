#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src/main/scala,
and perfbench/src/test/scala for the self-test) with the Scala compiler that
ships in Spark's jars directory.

Output goes to .bench_build/<name>/ under the current directory (the root of
a checkout) and is reused while the sources are unchanged.

    python3 perfbench/build.py            # compile main sources
    python3 perfbench/build.py --test     # also the self-test sources
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(test):
    engine = os.path.join("src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BuildError(f"engine sources {engine}/graft not found; run from the repository root")
    roots = [engine, os.path.join(BENCH_DIR, "src", "main", "scala")]
    if test:
        roots.append(os.path.join(BENCH_DIR, "src", "test", "scala"))
    files = sorted(p for r in roots for p in glob.glob(os.path.join(r, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build(test=False):
    """Compile if the sources changed; return the classpath to run with."""
    jars = spark_jars()
    files = sources(test)
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.abspath(os.path.join(BUILD_DIR, "test" if test else "main"))
    stamp = os.path.join(out, ".stamp")
    classpath = os.pathsep.join([os.path.join(out, "classes"), jars])
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "classes"))
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(out, "classes"), "-cp", jars] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath


def java_cmd(classpath, main):
    """A fixed-size heap with a fixed young generation under the parallel
    collector: resident memory then follows what the program retains more
    than when an adaptive collector chose to grow the heap."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    heap = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g"]
    return ["java"] + opens + heap + ["-cp", classpath, main]


if __name__ == "__main__":
    try:
        print(build(test="--test" in sys.argv[1:]))
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
