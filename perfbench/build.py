#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark code (perfbench/src) with the Scala compiler that ships in the
Spark jar directory, into .bench_build/classes.

The Spark jar directory is the `unmanagedBase` the repo's build.sbt names. A
build is skipped when the sources hash to the stamp of the previous one.

Usage: python3 perfbench/build.py    # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


class BuildError(Exception):
    pass


BUILD_DIR = ROOT / ".bench_build"


def spark_jars() -> Path:
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jar directory: build.sbt names no existing unmanagedBase")


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def classpath() -> str:
    """Builds if needed and returns the runtime classpath."""
    out = BUILD_DIR
    classes = out / "classes"
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(str(jars).encode())
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    stamp_file = out / "classes.stamp"
    if not (classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp):
        staging = out / "classes.staging"
        shutil.rmtree(staging, ignore_errors=True)
        staging.mkdir(parents=True)
        cp = f"{jars}/*"
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(staging), "-cp", cp] + [str(f) for f in srcs]
        res = subprocess.run(cmd, cwd=ROOT)
        if res.returncode != 0:
            raise BuildError(f"scalac failed with exit code {res.returncode}")
        shutil.rmtree(classes, ignore_errors=True)
        staging.rename(classes)
        stamp_file.write_text(stamp)
    resources = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(classes), str(resources), f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
