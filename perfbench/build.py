#!/usr/bin/env python3
"""Compile the program (src/main/scala) and the benchmark (perfbench/scala)
into one class directory with the Scala compiler that ships in Spark's
jars, the jars build.sbt names. A build is reused while no source file
changes.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys



def spark_jars(root):
    """The jar directory the program's own build compiles against
    (`unmanagedBase` in build.sbt), unless SPARK_HOME names another."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
    return m.group(1)


class BuildError(Exception):
    pass


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not program:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    if not bench:
        raise BuildError(f"no benchmark sources under {root}/perfbench/scala")
    return program + bench


def build(root, build_dir):
    """Return (class directory, Spark jar directory), compiling first if
    any source changed."""
    files = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "perfbench-classes")
    stamp_file = os.path.join(build_dir, "perfbench-classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         # an explicit class path: the default, ".", would make the
         # checkout's own directories look like packages
         "-classpath", classes, "-d", classes] + files,
        capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), sys.argv[1] if len(sys.argv) > 1 else ".bench_build")[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
