#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (src/main/scala) and the benchmark's own sources
(perfbench/src) are compiled together by the Scala compiler that ships in
the Spark distribution ($SPARK_HOME, or the one spark-submit runs from),
into <build>/classes; src/main/resources is copied
beside them. A stamp of every input file's path, size and mtime skips the
compile when nothing changed.

Usage: python3 perfbench/build.py [--build-dir DIR]
The build directory defaults to $CARGO_TARGET_DIR, else .bench_build.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
def spark_home():
    """The Spark distribution to build and run with: $SPARK_HOME, else the
    one a spark-submit on PATH belongs to. It must ship the Scala compiler."""
    candidates = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            candidates.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, candidates):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("build: no Spark distribution with a Scala compiler; set SPARK_HOME")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    return os.path.join(spark_home(), "jars", "*")


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, base)):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def resources():
    base = os.path.join(ROOT, "src/main/resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**"), recursive=True)
                  if os.path.isfile(p))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(out=None):
    """Compile if needed; returns the classpath to run with."""
    out = out or build_dir()
    classes = os.path.join(out, "classes")
    classpath = f"{classes}{os.pathsep}{spark_jars()}"
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src/main/scala")) for s in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    res = resources()
    key = stamp(srcs + res)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", spark_jars(), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    base = os.path.join(ROOT, "src/main/resources")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(key)
    return classpath


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--build-dir", default=None)
    print(build(ap.parse_args().build_dir))
