#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the benchmark's JVM runner (`perfbench/scala`) into `.bench_build/` with
the Scala compiler that ships in Spark's jar directory.

Usage: python3 perfbench/build.py

The Spark jars are taken from `$SPARK_HOME/jars`, or else from the
`unmanagedBase` that `build.sbt` declares. A build is reused while the
hash of every source file is unchanged.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError(f"library sources not found under {lib}")
    return sorted(lib.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(ROOT / "src" / "main" / "resources"),
                            str(spark_jars() / "*")])


def build() -> str:
    """Compiles if the sources changed; returns the runtime classpath."""
    files = sources()
    want = stamp(files)
    OUT.mkdir(exist_ok=True)
    with open(OUT / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if STAMP.is_file() and STAMP.read_text() == want and CLASSES.is_dir():
            return classpath()
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        jars = str(spark_jars() / "*")
        print(f"[perfbench] compiling {len(files)} Scala files", file=sys.stderr, flush=True)
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={OUT}", "-cp", jars, "scala.tools.nsc.Main",
                            "-nowarn", "-d", str(tmp), "-classpath", jars] + [str(f) for f in files],
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise BuildError(f"scalac exited with {r.returncode}")
        shutil.rmtree(CLASSES, ignore_errors=True)
        tmp.rename(CLASSES)
        STAMP.write_text(want)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
