"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) into one
class directory with the Scala compiler that ships in the Spark jars.

A stamp over every source file's path, size and contents makes the
build incremental at whole-tree granularity: an unchanged tree is not
recompiled.

Usage: python3 perfbench/build.py [out_dir]   (default .bench_build/perfbench)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def scala_files():
    out = []
    for base in SOURCES:
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(out=None):
    """Compile if needed; returns the class directory."""
    out = out or os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(out, "classes")
    files = scala_files()
    want = stamp(files)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cp = os.path.join(SPARK_JARS, "*")
    subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "-Ybackend-parallelism", "4",
         "@" + args_file],
        check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
