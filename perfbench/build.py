#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources together
with the benchmark's own Scala sources into one class directory.

    python3 perfbench/build.py          # prints the class directory

The compiler is the Scala 2.13 compiler that ships with Spark's jars, called
directly (no sbt), so the build reads only the toolchain and writes only
under `.bench_build/` in the checkout. The class directory is keyed by a hash
of every source file, so an unchanged tree is compiled once.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]

# Spark on JDK 17 needs these when a SparkSession is created outside
# spark-submit (the same list as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("Spark jars with a Scala compiler not found (set SPARK_HOME)")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def source_files():
    missing = [str(d.relative_to(ROOT)) for d in SOURCES if not d.is_dir()]
    if missing:
        raise BuildError(f"source directories missing: {', '.join(missing)}")
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build() -> Path:
    """Compiles if needed; returns the class directory."""
    files = source_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / "classes" / digest.hexdigest()[:16]
    if out.is_dir():
        return out
    jars = spark_jars()
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for old in out.parent.iterdir():  # one class directory per checkout
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
