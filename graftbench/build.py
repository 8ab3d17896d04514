"""Builds the harness together with the program it drives, from source.

The graftbench package compiles the program's sources (`src/main/scala`
at the checkout root) and its own `src/` in one pass with the Scala
compiler that ships in the Spark distribution's `jars/` directory, the
same jars the program runs on. Classes land in
`.bench_build/graftbench/classes-<hash>`, keyed by a hash of every source
file, so an unchanged checkout builds once.

Run directly to build: python3 graftbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "graftbench")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources():
    found = []
    for d in (PROGRAM_SRC, os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the classes directory, compiling only when sources changed."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"graftbench: no program sources under {PROGRAM_SRC}")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"graftbench: no Scala compiler in {jars} (set SPARK_HOME)")
    files = sources()
    out = os.path.join(BUILD_DIR, "classes-" + source_hash(files)[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("graftbench: compilation failed")
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
