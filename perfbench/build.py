#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program
(src/main/scala) and the benchmark harness (perfbench/harness) with the
Scala 2.13 compiler that ships in Spark's jar directory (the
`unmanagedBase` of build.sbt, or $SPARK_HOME/jars), into .bench_build/
at the root of the checkout. A build is skipped when the
sources, the harness and the jar set are unchanged.

  python3 perfbench/build.py      # prints the classpath on success
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(ROOT, "perfbench", "harness")


def spark_jars() -> list:
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    return jars


def _sources(d: str) -> list:
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files: list, jars: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def _scalac(jars: list, classpath: list, files: list, dest: str) -> None:
    comp = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(classpath), *files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"scalac failed for {dest}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def build() -> list:
    """Compile what changed; return the runtime classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    prog = _sources(src)
    if not prog:
        raise SystemExit(f"no program sources under {src}")
    jars = spark_jars()
    harness = _sources(HARNESS)
    os.makedirs(OUT, exist_ok=True)
    classes = os.path.join(OUT, "classes")
    hclasses = os.path.join(OUT, "harness")
    stamp_f = os.path.join(OUT, "stamp")
    stamp = _stamp(prog, jars) + _stamp(harness, jars)
    old = open(stamp_f).read() if os.path.exists(stamp_f) else ""
    if old[:64] != stamp[:64] or not os.path.isdir(classes):
        _scalac(jars, jars, prog, classes)
        old = ""
    if old != stamp or not os.path.isdir(hclasses):
        _scalac(jars, [classes] + jars, harness, hclasses)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return [hclasses, classes] + jars


if __name__ == "__main__":
    print(":".join(build()))
