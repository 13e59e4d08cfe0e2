#!/usr/bin/env python3
"""Build file of the benchmark: compiles the product's main sources
(src/main/scala) together with the benchmark driver (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jars.

The build is skipped when a stamp of every source file's content matches
the last build. Run it directly with `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").exists() else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            sys.exit("build: set SPARK_HOME to a Spark installation")
        jars = Path(m.group(1))
    if not list(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            sys.exit(f"build: source directory {d.relative_to(ROOT)} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    resources = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(CLASSES), str(resources), str(spark_jars() / "*")])


def build(log=sys.stderr):
    files = sources()
    want = stamp(files)
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return
    if STAMP.exists():
        STAMP.unlink()
    subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    CLASSES.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(CLASSES)]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        sys.exit(f"build: scalac exited with {r.returncode}")
    STAMP.write_text(want)


if __name__ == "__main__":
    build()
