"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own into one class directory, with the Scala compiler that
ships in the Spark distribution the engine builds against.

    python3 graftbench/build.py          # from the repository root

The class directory is rebuilt only when a source file changed. Prints the
class path to run with.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]


def build_dir() -> pathlib.Path:
    # the conventional target-dir variable, when the caller sets one
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> pathlib.Path:
    """SPARK_HOME/jars, else the unmanaged jar directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        sys.exit("build: set SPARK_HOME or run from the repository root (build.sbt names the Spark jars)")
    return pathlib.Path(m.group(1))


def sources() -> list:
    if not SOURCE_DIRS[0].is_dir():
        sys.exit(f"build: engine sources not found under {SOURCE_DIRS[0]}; run from the repository root")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build() -> str:
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar in {jars}")
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    digest.update(str(jars).encode())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if not (classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp):
        tmp = out / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        cp = f"{jars}/*"
        cmd = ["java", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp",
               "-nowarn", "-d", str(tmp)] + [str(p) for p in srcs]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit(f"build: scalac failed with exit code {r.returncode}")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp_file.write_text(stamp)
    return f"{classes}:{jars}/*"


if __name__ == "__main__":
    print(build())
