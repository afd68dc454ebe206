#!/usr/bin/env python3
"""Compiles the engine (src/main/scala) and the benchmark harness
(perfbench/src) into one class directory, with the Scala compiler that
ships in the Spark distribution the engine builds against. No sbt, no
downloads.

    python3 perfbench/build.py [--build-dir DIR]

Prints the class directory. A stamp over every source file and the jar
list skips the compile when nothing changed.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the
    `unmanagedBase` directory the engine's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            sys.exit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        sys.exit(f"perfbench: no Spark jars with scala-compiler in {jar_dir}")
    return jars


def sources():
    if not ENGINE_SRC.is_dir():
        sys.exit(f"perfbench: engine sources {ENGINE_SRC} not found")
    srcs = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return [s for s in srcs if s.is_file()]


def stamp(srcs, jars):
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def default_build_dir():
    return ROOT / ".bench_build" / "perfbench"


def ensure(build_dir=None, log=sys.stderr):
    """Returns (class dir, jar list), compiling when the stamp changed."""
    build_dir = Path(build_dir or default_build_dir())
    jars = spark_jars()
    srcs = sources()
    classes = build_dir / "classes"
    want = stamp(srcs, jars)
    stamp_file = build_dir / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes, jars
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    tmp = build_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout, file=log)
        sys.exit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes, jars


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--build-dir")
    a = ap.parse_args()
    classes, _ = ensure(a.build_dir)
    print(classes)


if __name__ == "__main__":
    main()
