#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark runner (perfbench/src) with the Scala compiler that ships among
the Spark jars, and packs each into a jar under .bench_build/classes/ at the
repository root (jars, not class directories, because the JVM keeps a class
data sharing archive only of classes loaded from jars; see run.py).

A build is skipped when a stamp over every source file, and this file,
matches the previous build. Run it directly to build, or let run.py call it.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    sbt build takes its unmanaged jars from."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, files, dest):
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", dest, "-classpath", os.pathsep.join(classpath), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def _jar(src, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(src)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src))
    shutil.rmtree(src)


def classpath():
    """Builds if needed and returns the run classpath."""
    jars = spark_jars()
    program = _sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = _sources(os.path.join(BENCH, "src"))
    if not program:
        raise BuildError("no engine sources under src/main/scala")
    classes = os.path.join(OUT, "classes")
    cp = [os.path.join(classes, "bench.jar"), os.path.join(classes, "program.jar"),
          os.path.join(jars, "*")]
    stamp = _stamp(program + bench)
    stamp_file = os.path.join(classes, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp
    shutil.rmtree(classes, ignore_errors=True)
    for sources, dest in ((program, cp[1]), (bench, cp[0])):
        _scalac(jars, cp[1:], sources, dest + ".d")
        _jar(dest + ".d", dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(classpath()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
