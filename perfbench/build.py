#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) into `.bench_build/perfbench/classes` with the
Scala compiler that ships in the Spark distribution, against the Spark
jars: `$SPARK_HOME/jars`, or else the directory that `unmanagedBase` in
build.sbt names. A stamp of every source file's content lets a later run skip the
build. Writes only under `.bench_build/`.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt's unmanagedBase names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars at '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    if any(f.endswith(".java") for f in out):
        raise SystemExit("build: Java sources are not supported by this build")
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def jvm_tmp():
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build():
    """Compile if any source changed; return the class directory."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", *jvm_tmp(),
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
