"""Build file of the serving benchmark.

Compiles the engine sources (src/main/scala) together with the
benchmark harness (servebench/src) with the Scala compiler that ships
in Spark's jar directory, into .bench_build/servebench/classes.  A
stamp of the source contents skips the compile when nothing changed.

    python3 servebench/build.py        # build, print the classes dir
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build" / "servebench"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "servebench" / "src"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else ""
    jars = Path(home) / "jars"
    if not home or not jars.is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not any(p.is_relative_to(SOURCE_DIRS[0]) for p in files):
        raise BuildError("no engine sources under src/main/scala")
    return files


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build(log=sys.stderr):
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return CLASSES
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(CLASSES), f"@{args}"]
    print(f"[servebench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    STAMP.write_text(digest)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[servebench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
