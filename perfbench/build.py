#!/usr/bin/env python3
"""Build file of the array-store benchmark.

Compiles the repository's main Scala sources (`src/main/scala`) together
with the benchmark's own (`perfbench/src/main/scala`) using the Scala 2.13
compiler that ships in Spark's jar directory, so the build needs neither sbt
nor a dependency cache. The output goes to `$CARGO_TARGET_DIR/perfbench`
(default `.bench_build/perfbench`) under the current directory, which must
be the repository root. A build is reused while no source file changed.

    python3 perfbench/build.py          # build if needed, print the classpath
    python3 perfbench/build.py --test   # build, then run the benchmark's own tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

MAIN_SOURCES = "src/main/scala"
MAIN_RESOURCES = "src/main/resources"
BENCH_SOURCES = "perfbench/src/main/scala"
TEST_SOURCES = "perfbench/src/test/scala"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else found from spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def out_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the build directory
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", dest] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError("scalac failed with code %d" % r.returncode)


def ensure_built():
    """Build if needed; return the runtime classpath."""
    if not os.path.isdir(MAIN_SOURCES) or not os.path.isdir(BENCH_SOURCES):
        raise BuildError("run from the repository root: %s and %s are required"
                         % (MAIN_SOURCES, BENCH_SOURCES))
    jars = spark_jars()
    files = sources(MAIN_SOURCES, BENCH_SOURCES)
    resources = sorted(glob.glob(os.path.join(MAIN_RESOURCES, "**", "*"), recursive=True))
    stamp = digest(files + [r for r in resources if os.path.isfile(r)])
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    cp = os.pathsep.join([classes, MAIN_RESOURCES, os.path.join(jars, "*")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(jars, os.path.join(jars, "*"), tmp, files)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_tests(cp):
    jars = spark_jars()
    dest = os.path.join(out_dir(), "test-classes")
    shutil.rmtree(dest, ignore_errors=True)
    scalac(jars, cp, dest, sources(TEST_SOURCES))
    r = subprocess.run([java(), "-XX:-UsePerfData", "-cp", os.pathsep.join([dest, cp]),
                        "perfbench.SelfTest"])
    return r.returncode


def main():
    try:
        cp = ensure_built()
        if "--test" in sys.argv[1:]:
            return run_tests(cp)
        print(cp)
        return 0
    except BuildError as e:
        print("perfbench build: %s" % e, file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
