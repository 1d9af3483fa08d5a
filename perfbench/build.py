"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into <build dir>/classes, using the Scala
compiler that ships in the Spark distribution's jars directory
($SPARK_HOME/jars, else the jars directory the program's build.sbt
compiles against). The build directory is $CARGO_TARGET_DIR if set, else
.bench_build, relative to the repository root. It rebuilds only when a
source file changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    candidates = [Path(os.environ["SPARK_HOME"]) / "jars"] if os.environ.get("SPARK_HOME") else []
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for c in candidates:
        if list(c.glob("scala-compiler-2.13.*.jar")):
            return c
    raise SystemExit("build: no Spark jars directory with a Scala 2.13 compiler")


def sources() -> list:
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build() -> Path:
    """Compile if needed; return the classes directory."""
    if not (PROGRAM_SRC / "graft").is_dir():
        raise SystemExit(f"build: program sources not found under {PROGRAM_SRC}")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    digest = h.hexdigest()
    out = build_dir()
    classes, stamp = out / "classes", out / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    compiler = os.pathsep.join(
        str(next(jars.glob(f"{n}-2.13.*.jar")))
        for n in ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(
        ["-nowarn", "-d", str(classes), "-classpath", str(jars / "*")] +
        [str(s) for s in srcs]) + "\n")
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                        "scala.tools.nsc.Main", f"@{argfile}"])
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    print(build())
