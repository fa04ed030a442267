"""Build file of the graft benchmark.

Compiles graft's main sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships in Spark's jar directory (``$SPARK_HOME/jars``), into
``.bench_build/classes``, and packs them into ``.bench_build/graftbench.jar``
(the JVM's class-data sharing archives classes from jars only). A stamp
over every source file's path and bytes skips the compile when nothing
changed.

Run from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "graftbench.jar")
SOURCE_ROOTS = ("src/main/scala", "perfbench/src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark 4.x install with a jars/ directory")
    return os.path.join(home, "jars", "*")


def sources():
    if not os.path.isdir("src/main/scala/graft"):
        raise BuildError("run from the repository root: src/main/scala/graft is missing")
    out = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [__file__]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def pack(classes, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(tmp, jar)


def build(quiet=True):
    """Compile if needed; returns (runtime classpath, build stamp)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want and os.path.exists(JAR):
        return JAR + os.pathsep + jars, want
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    if not quiet:
        print(res.stdout, end="")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as fh:
        fh.write(want)
    pack(tmp, JAR)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return JAR + os.pathsep + jars, want


if __name__ == "__main__":
    try:
        print(build(quiet=False)[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
