"""Build file of the benchmark package.

Compiles the engine (src/main/scala) and the benchmark program
(enginebench/src) in one scalac pass, using the Scala compiler that ships
among Spark's jars, into .bench_build/classes. The build is skipped when a
hash of every input source and of this file matches the last build's.

    python3 enginebench/build.py        # build (or confirm up to date)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.sha256")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit on
    PATH, else the unmanagedBase the repo's build.sbt names."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    java = shutil.which("java")
    if not java:
        raise BuildError("no java on PATH")
    return java


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                             recursive=True))
    if not engine:
        raise BuildError("engine sources not found under src/main/scala")
    if not bench:
        raise BuildError("benchmark sources not found under enginebench/src")
    return engine + bench


def jar_classpath(jars):
    return os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))


def source_hash(srcs):
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Build if needed; returns the runtime classpath."""
    srcs = sources()
    jars = spark_jars_dir()
    cp = CLASSES + os.pathsep + jar_classpath(jars)
    digest = source_hash(srcs)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return cp
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-2\.13.*\.jar$", n)]
    if len(compiler) != 3:
        raise BuildError(f"scala 2.13 compiler jars not found in {jars}")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", jar_classpath(jars)] + srcs
    print(f"enginebench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return cp


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"enginebench: {e}", file=sys.stderr)
        sys.exit(2)
