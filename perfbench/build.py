"""Offline build of the engine plus the benchmark, with the Scala compiler
that ships among the Spark jars. No sbt, no network. The Spark jars are those
of `$SPARK_HOME/jars`, else the directory the engine's `build.sbt` names as
its `unmanagedBase`.

Compiles `src/main/scala` (the engine, unchanged) and `perfbench/src` (the
benchmark) into one class directory under `perfbench/out/build/<hash>`, where
the hash covers every source file, so a rebuilt tree is never stale and an
unchanged tree is never rebuilt. Concurrent builds of one tree each compile
into a private directory; the first to finish publishes it and the others
use it. Run directly to build only:

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if m is None:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars directory at {jars}; set SPARK_HOME")
    return jars


def sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def build():
    """Return the class directory, compiling it first if needed."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    jars = spark_jars()
    compiler = sorted(os.path.join(jars, j) for j in os.listdir(jars)
                      if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-")))
    if len(compiler) != 3:
        raise BuildError(f"scala compiler, library and reflect jars not all in {jars}")
    srcs = sources(ENGINE_SRC) + sources(BENCH_SRC)
    resources = sorted(os.path.join(d, f) for d, _, fs in os.walk(ENGINE_RES) for f in fs)
    h = hashlib.sha256()
    for p in [os.path.abspath(__file__)] + srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\0".join(os.path.basename(c) for c in compiler).encode())
    classes = os.path.join(OUT, "build", h.hexdigest()[:16])
    if not os.path.isdir(classes):
        compile_into(classes, jars, compiler, srcs, resources)
    return classes


def compile_into(classes, jars, compiler, srcs, resources):
    os.makedirs(os.path.dirname(classes), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=os.path.basename(classes) + ".", suffix=".tmp",
                           dir=os.path.dirname(classes))
    classpath = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    try:
        os.rename(tmp, classes)
    except OSError:
        # a concurrent build of the same tree published first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(classes):
            raise


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
