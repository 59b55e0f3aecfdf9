#!/usr/bin/env python3
"""Compile the program (`src/main/scala`) and the benchmark's JVM half
(`perfbench/scala`) with the Scala compiler that ships in Spark's jars.

Usage: python3 perfbench/build.py [--force]

Classes go to `perfbench/.work/classes`. A stamp of every source file's
content skips the compile when nothing changed. Exits non-zero, naming
what is missing, when the sources or the Spark distribution are absent.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")


class CompileError(Exception):
    pass


def spark_jars() -> str:
    """`$SPARK_HOME/jars`, else the jars beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME", "")
    if home:
        jars = os.path.join(home, "jars")
        if not os.path.isdir(jars):
            raise CompileError(f"SPARK_HOME: {home} has no jars/ directory")
        return jars
    submit = shutil.which("spark-submit")
    if not submit:
        raise CompileError("SPARK_HOME: not set and no spark-submit on PATH")
    return os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")


def read(path: str) -> str:
    """The file's text, or "" when it does not exist."""
    try:
        with open(path) as fh:
            return fh.read()
    except FileNotFoundError:
        return ""


def java() -> str:
    home = os.environ.get("JAVA_HOME", "")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise CompileError(f"JAVA_HOME: no java executable (JAVA_HOME={home!r})")
    return exe


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise CompileError(f"src/main/scala: no program sources under {ROOT}")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not bench:
        raise CompileError("perfbench/scala: no benchmark sources")
    return main, bench


def build(force: bool = False) -> str:
    """Compile if any source changed; returns the class directory. Holds
    a lock, so concurrent callers wait for one compile."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(force)


def _build(force: bool) -> str:
    main, bench = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "classes.stamp")
    if not force and read(stamp_file) == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-cp", cp + os.pathsep + CLASSES]
    for group in (main, bench):
        r = subprocess.run(cmd + group, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise CompileError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build(force="--force" in sys.argv[1:]))
    except CompileError as e:
        sys.exit(f"build: {e}")
