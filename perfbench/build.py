"""Build file of the benchmark package.

Compiles the engine's main sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) in one scalac invocation against the
Spark distribution's jars (which carry the matching Scala compiler), into
`<build>/classes`. A stamp over every source's content skips the compile
when nothing changed; a lock makes concurrent runs wait for one build.

Usage: python3 perfbench/build.py   (from the repository root)
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("set SPARK_HOME to a Spark distribution")
    return os.path.join(home, "jars")


def sources():
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Return the classes directory and the sources' stamp, compiling
    first if sources changed."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    files = sources()
    want = stamp(files)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == want:
            return classes, want
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        jars = os.path.join(spark_jars(), "*")
        args_file = os.path.join(BUILD, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
               "scala.tools.nsc.Main",
               "-encoding", "utf-8", "-nowarn", "-d", tmp, "-cp", jars,
               "@" + args_file]
        print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
        subprocess.run(cmd, check=True, stdout=log, stderr=log, timeout=840)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(want)
        return classes, want


if __name__ == "__main__":
    print(build()[0])
