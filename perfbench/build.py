#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the library (src/main/scala plus its resources) together with the
harness (perfbench/src) into <build_dir>/harness.jar with the Scala compiler
that ships in Spark's jars directory, so the benchmark needs no sbt, no
network and no dependency cache. A stamp over every source file and the
compiler jar skips the compile when nothing changed; the first run in a
checkout pays it (about 25 s on 4 cores). The classes go into a jar, the
form the library ships in, so set-up loads them the way a deployed job does.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"perfbench: no library sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"), recursive=True))
    return main + harness


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure(root, build_dir):
    """Return the classpath of the built harness, compiling if needed."""
    jars = spark_jars()
    files = sources(root)
    classes = os.path.join(build_dir, "classes")
    jar = os.path.join(build_dir, "harness.jar")
    stamp_file = os.path.join(build_dir, "harness.stamp")
    want = stamp(files, jars)
    have = None
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            have = fh.read()
    if have != want:
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if done.returncode != 0:
            sys.stderr.write(done.stdout[-4000:])
            raise SystemExit("perfbench: compile failed")
        res = os.path.join(root, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, classes, dirs_exist_ok=True)
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, names in sorted(os.walk(classes)):
                for n in sorted(names):
                    path = os.path.join(d, n)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(jar + ".tmp", jar)
        shutil.rmtree(classes)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return jar + os.pathsep + os.path.join(jars, "*")

