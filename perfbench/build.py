"""Builds the benchmark harness and the program it measures from source.

Compiles `src/main/scala` (the program) and `perfbench/scala` (the harness)
with the Scala compiler that ships among Spark's jars (the directory
build.sbt names, or $SPARK_JARS / $SPARK_HOME/jars), into
`<build dir>/classes`. A stamp of every source file's content skips the
compile when nothing changed. Run from the root of a checkout:

    python3 perfbench/build.py            # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

PROGRAM_SRC = "src/main/scala"
HARNESS_SRC = "perfbench/scala"


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars_dir():
    """$SPARK_JARS, else $SPARK_HOME/jars, else the jar directory the
    repo's own build.sbt names (`unmanagedBase := file("...")`)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_JARS or SPARK_HOME; build.sbt names no jar directory")
    return m.group(1)


def spark_classpath():
    d = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no jars under {d}")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: no program sources at {PROGRAM_SRC}; "
                         "run from the root of a checkout")
    files = []
    for root in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp():
    """SHA-256 over the names and contents of every source compiled."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the classes directory."""
    srcs = sources()
    digest = stamp()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join(spark_classpath())
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return out


if __name__ == "__main__":
    print(build())
