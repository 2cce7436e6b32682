#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark harness (benchmark/harness) with the Scala compiler
that ships in the Spark distribution ($SPARK_HOME/jars), into
<build dir>/classes.

    python3 benchmark/build.py [--build-dir DIR]

Run from the repository root. It rebuilds only when a source file
changed (a content hash is kept next to the classes), and writes
nothing outside the build directory.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else
    the one beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("benchmark: set SPARK_HOME to a Spark 4 distribution")
    return os.path.join(home, "jars")


def scala_library():
    """The Scala runtime jar, the load generator's only dependency."""
    jars = spark_jars()
    lib = [f for f in os.listdir(jars) if f.startswith("scala-library-") and f.endswith(".jar")]
    if not lib:
        raise SystemExit("benchmark: no scala-library jar in %s" % jars)
    return os.path.join(jars, lib[0])


def sources(root):
    out = []
    for base in ("src/main/scala", os.path.relpath(os.path.join(HERE, "harness"), root)):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Returns the classes directory, compiling first when stale."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("benchmark: no src/main/scala under %s; run from the repository root" % root)
    files = sources(root)
    stamp = digest(files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = spark_jars() + "/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + build_dir,
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("benchmark: compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--build-dir", default=".bench_build")
    a = ap.parse_args()
    os.makedirs(a.build_dir, exist_ok=True)
    print(build(os.getcwd(), os.path.abspath(a.build_dir)))
