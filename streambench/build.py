"""Build file of the stream benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`streambench/src`) with the Scala compiler that ships in Spark's
jar directory, into `.bench_build/streambench/classes` at the checkout root.
A stamp over every source file skips the compile when nothing changed.

    python3 streambench/build.py        # build, print the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "streambench" / "src"
OUT = ROOT / ".bench_build" / "streambench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME is not set and spark-submit is not on PATH")
    return Path(home) / "jars"


def sources() -> list:
    if not PROGRAM_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise BuildError(f"program sources not found under {ROOT}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    for name in sorted(p.name for p in jars.glob("scala-*.jar")):
        h.update(name.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built() -> Path:
    """Returns the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    files = sources()
    digest = stamp(files, jars)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == digest and classes.is_dir():
        return classes
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", str(staging)]
    cmd += [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(digest)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
