"""Builds the program and the benchmark's JVM side from source.

Compiles the repository's `src/main/scala` together with
`perfbench/src` with the Scala compiler that ships among the Spark jars
(the jar directory the repository's build.sbt names as its
`unmanagedBase`, or `$SPARK_HOME/jars`), into `.bench_build/perfbench`.
A build is reused while the sources and the jar list are unchanged.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


class BuildError(Exception):
    pass


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else (shutil.which("java") or "java")


def scala_files():
    for d in SOURCES:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def build():
    """Return the classpath entries of a current build, building if needed."""
    jars = jar_dir()
    files = scala_files()
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    cp = [str(classes), str(jars / "*")]
    stamp_file = BUILD / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return cp
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = BUILD / "sources.txt"
    args_file.write_text("\n".join(str(p) for p in files))
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-cp", str(jars / "*"), f"@{args_file}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
