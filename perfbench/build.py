#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft library (src/main/scala)
together with the benchmark sources (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jars
directory. The build is skipped when a stamp of every source file's hash
matches the last successful build.

    python3 perfbench/build.py          # build if stale
    python3 perfbench/build.py --force  # always rebuild
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> pathlib.Path:
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return pathlib.Path(home) / "jars"


def sources() -> list:
    found = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d.relative_to(ROOT)} is missing")
        found += sorted(str(p) for p in d.rglob("*.scala"))
    return found


def stamp_of(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(pathlib.Path(f).read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build(force: bool = False) -> None:
    files = sources()
    stamp = stamp_of(files)
    if not force and STAMP.exists() and STAMP.read_text() == stamp:
        return
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    STAMP.unlink(missing_ok=True)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-cp", jars] + files
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    # stdout stays clean: the benchmark's result must be its last stdout line
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {done.returncode}")
    STAMP.write_text(stamp)


if __name__ == "__main__":
    build(force="--force" in sys.argv[1:])
