"""Build file of the ingest benchmark.

Compiles the program's main sources (src/main/scala, src/main/java) and
the benchmark's own sources (ingestbench/src) into one class directory,
with the Scala 2.13 compiler that ships among the Spark distribution's
jars -- the same jars the program builds and runs against. A content
stamp over every source skips the build when nothing changed.

    python3 ingestbench/build.py [BUILD_DIR]     # default: .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "src", "main", "java")]
BENCH_SOURCES = [os.path.join(BENCH, "src", "main", "scala"), os.path.join(BENCH, "src", "test", "scala")]
BUILD_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    """The jars the program builds against: $SPARK_HOME/jars, else the
    directory the program's build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not os.path.isdir(jars) or not any(j.startswith("scala-compiler") for j in os.listdir(jars)):
        raise BuildError("no Spark distribution with a Scala compiler at %s (set SPARK_HOME)" % jars)
    return jars


def sources():
    found = []
    for top in PROGRAM_SOURCES + BENCH_SOURCES:
        if not os.path.isdir(top):
            raise BuildError("missing source directory %s" % os.path.relpath(top, ROOT))
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Returns the class directory, compiling first if a source changed."""
    jars = spark_jars()
    files = sources()
    key = stamp(files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == key:
                return classes
    staging = os.path.join(build_dir, "classes.staging")
    tmp = os.path.join(build_dir, "tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    os.makedirs(tmp, exist_ok=True)
    java_files = [f for f in files if f.endswith(".java")]
    cp = os.path.join(jars, "*")
    steps = [
        ["java", "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + tmp, "-cp", cp,
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging] + files,
    ]
    if java_files:
        steps.append(["javac", "-nowarn", "-J-Djava.io.tmpdir=" + tmp,
                      "-cp", cp + os.pathsep + staging, "-d", staging] + java_files)
    for cmd in steps:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError("%s timed out after %d s" % (cmd[0], BUILD_TIMEOUT_S))
        if r.returncode != 0:
            raise BuildError("%s failed:\n%s" % (cmd[0], r.stdout.decode(errors="replace")[-4000:]))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(key + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
