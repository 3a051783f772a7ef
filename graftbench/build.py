#!/usr/bin/env python3
"""Build file of graftbench: compiles the engine and the benchmark.

    python3 graftbench/build.py

Compiles src/main/scala (the engine) and graftbench/src (the benchmark)
with the Scala compiler that ships among Spark's jars, into
.bench_build/graftbench/classes, and packs the classes into
.bench_build/graftbench/graftbench.jar (the JVM's class-data-sharing archive
takes classes from jars only; see run.py). A stamp over every source file's
path and bytes skips the compile when nothing changed; a rebuild drops the
class-data-sharing archives of the previous build. No network, no sbt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """SPARK_HOME/jars, else the jar directory the repository's build.sbt
    names (`unmanagedBase := file(...)`), else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))),
                                       "jars"))
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def classpath(out):
    return os.path.join(out, "graftbench.jar") + os.pathsep + os.path.join(spark_jars(), "*")


def cds_dir(out):
    """Class-data-sharing archives of the current build (run.py)."""
    return os.path.join(out, "cds")


def pack(classes, jar):
    """Every file under `classes` into `jar`, in sorted order."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(classes):
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(tmp, jar)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under %s/src/main/scala" % root)
    bench = sorted(glob.glob(os.path.join(root, "graftbench", "src", "**", "*.scala"),
                             recursive=True))
    return engine + bench


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    files = sources(root)
    stamp = stamp_of(files)
    stamp_file = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp_file) and os.path.exists(os.path.join(out, "graftbench.jar")):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    shutil.rmtree(classes, ignore_errors=True)
    shutil.rmtree(cds_dir(out), ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, "scala-%s-%s.jar" % (m, SCALA))
                               for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    pack(classes, os.path.join(out, "graftbench.jar"))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        build(root, os.path.join(root, ".bench_build", "graftbench"))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
