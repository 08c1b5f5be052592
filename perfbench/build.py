#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (`src/main/scala`) together with the harness
(`perfbench/src`) into `.bench_build/classes`, using the Scala compiler that
ships in the Spark distribution's `jars/` directory (found through
`SPARK_HOME`, or through `spark-submit` on `PATH`). Nothing is fetched.
A build is skipped when no source changed since the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
CHECKOUT = HERE.parent
BUILD = CHECKOUT / ".bench_build"
CLASSES = BUILD / "classes"
ENGINE_SRC = CHECKOUT / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home, "bin", "java") if home else None
    return str(exe) if exe and exe.exists() else "java"


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = pathlib.Path(home or "", "jars")
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return jars


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"no engine sources under {ENGINE_SRC.relative_to(CHECKOUT)}")
    return sorted(p for root in (ENGINE_SRC, HERE / "src") for p in root.rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files + [pathlib.Path(__file__).resolve()]:
        h.update(str(f.relative_to(CHECKOUT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> pathlib.Path:
    """Return the classes directory, compiling first if it is stale."""
    files = sources()
    want = stamp(files)
    marker = CLASSES / ".stamp"
    if marker.exists() and marker.read_text() == want:
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
