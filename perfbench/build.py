#!/usr/bin/env python3
"""Build file of the benchmark.

    python3 perfbench/build.py        # builds if stale, prints the classpath

Compiles graft's main sources together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in
$SPARK_HOME/jars, and packs the classes and graft's resources into
perfbench/.build/perfbench.jar. The jar is rebuilt only when a source,
resource or flag changed.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "perfbench.jar")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
SCALAC_FLAGS = ["-nowarn"]

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jvm_flags(tmp):
    """JVM flags of every benchmark JVM: JVM warnings go to stderr, and no
    perf-data file is written outside the checkout."""
    flags = ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
             "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    return flags + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME (its jars/ holds Spark and scalac)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def files_under(d, suffix=""):
    out = []
    for dirpath, _, names in os.walk(d):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def inputs():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(f"graft sources not found under {os.path.relpath(GRAFT_SRC)}: "
                         "run from a full checkout of the repository")
    return files_under(GRAFT_SRC, ".scala") + files_under(BENCH_SRC, ".scala"), files_under(GRAFT_RES)


def stamp(sources, resources):
    h = hashlib.sha256(" ".join(SCALAC_FLAGS + jvm_flags("")).encode())
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_jar(sources, resources, jars):
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main",
           *SCALAC_FLAGS, "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(sources)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    tmp_jar = JAR + ".tmp"
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for base, files in ((classes, files_under(classes)), (GRAFT_RES, resources)):
            for f in files:
                z.write(f, os.path.relpath(f, base))
    os.replace(tmp_jar, JAR)
    shutil.rmtree(classes, ignore_errors=True)


def ensure():
    """Build if stale; return (classpath, source stamp).
    Concurrent callers wait on a lock for one build."""
    sources, resources = inputs()
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build(sources, resources, jars)


def build(sources, resources, jars):
    digest = stamp(sources, resources)
    stamp_file = os.path.join(BUILD, "stamp")
    cp = f"{JAR}{os.pathsep}{os.path.join(jars, '*')}"
    fresh = os.path.exists(stamp_file) and open(stamp_file).read() == digest and os.path.exists(JAR)
    if not fresh:
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        compile_jar(sources, resources, jars)
        with open(stamp_file, "w") as fh:
            fh.write(digest)
    return cp, digest


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
