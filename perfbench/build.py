"""Build file of the benchmark package.

Compiles the product (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/classes with the Scala compiler that ships in the Spark
distribution's jars, so no build tool or network is needed. A stamp of the
source tree's hash skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SOURCE_DIRS = ("src/main/scala", "perfbench/src")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution on PATH (a bin/spark-submit next to a jars/ dir)."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        if (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def sources(root):
    return sorted(p for d in SOURCE_DIRS for p in (root / d).rglob("*.scala"))


def tree_hash(root):
    """sha256 over the relative path and bytes of every compiled source."""
    h = hashlib.sha256()
    for p in sources(root):
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root):
    """Returns (classes dir, source tree hash), compiling when stale."""
    out = root / ".bench_build"
    classes, stamp = out / "classes", out / "stamp"
    digest = tree_hash(root)
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes, digest
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", jars] + [str(p) for p in sources(root)]
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes, digest


if __name__ == "__main__":
    print(build(Path.cwd())[0])
