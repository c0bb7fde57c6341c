"""Builds the engine (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships among the Spark jars the repo's
build.sbt names. Classes go to .bench_build/classes and are rebuilt only when
a source file or the jar set changes.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The directory of Spark jars: `unmanagedBase` in the repo's build.sbt."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise SystemExit("no build.sbt at the repository root")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build.sbt names no Spark jar directory")
    return m.group(1)


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit("no engine sources under src/main/scala")
    return sorted(files)


def jvm_flags():
    """Keep the JVM's own files (perf data, temp files) inside .bench_build."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]


# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_command(main, args):
    """The JVM command that runs `main` on the built classes."""
    flags = [f for p in OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    log4j = os.path.join(ROOT, "perfbench", "log4j2.properties")
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    # the throughput collector runs no GC threads beside the 4 task threads
    # between pauses; with G1 the same runs were about 15% slower
    return (["java"] + jvm_flags() + flags
            + ["-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
               "-Dlog4j2.configurationFile=" + log4j, "-cp", cp, main] + args)


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                return
    fresh = CLASSES + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java"] + jvm_flags() + ["-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", fresh, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


if __name__ == "__main__":
    build()
