#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory.

It calls the Scala compiler that ships with Spark (scala-compiler in
$SPARK_HOME/jars) directly, so no build tool or network is needed, and it
skips the compile when no source changed since the last one.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "scala"]
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must name a Spark install with a jars/ directory")
    return Path(home) / "jars"


def classpath(classes: Path) -> str:
    return f"{classes}{os.pathsep}{spark_jars() / '*'}"


def build() -> Path:
    """Compiles when the sources changed; returns the class directory."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BuildError(f"graft sources not found under {ROOT / 'src/main/scala'}")
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = OUT / "sources.sha256"
    classes = OUT / "classes"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    if classes.exists():
        subprocess.run(["rm", "-rf", str(classes)], check=True)
    classes.mkdir(parents=True)
    args = OUT / "sources.txt"
    args.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{args}"]
    # run from the build directory: scalac puts the working directory on
    # its class path, where perfbench/scala would read as a package
    proc = subprocess.run(cmd, cwd=OUT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise BuildError("scala compile failed")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
