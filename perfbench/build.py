"""Builds the benchmark: compiles the library sources (src/main/scala) and
the benchmark sources (perfbench/src) into .bench_build/perfbench/classes
with the Scala compiler that ships among Spark's jars. Rebuilds only when a
source file changed.

Run directly from the repository root: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

COMPILE_TIMEOUT_S = 600


def spark_jars(root: Path) -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    directory the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = root / "build.sbt"
    text = sbt.read_text() if sbt.is_file() else ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return Path(m.group(1))


def source_files(root: Path) -> list:
    dirs = [root / "src" / "main" / "scala", root / "perfbench" / "src"]
    for d in dirs:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d.relative_to(root)}")
    return sorted(p for d in dirs for p in d.rglob("*.scala") if p.is_file())


def build(root: Path) -> Path:
    """Returns the classes directory, compiling first if any source changed."""
    out = root / ".bench_build" / "perfbench"
    classes = out / "classes"
    sources = source_files(root)
    digest = hashlib.sha256()
    for p in sources:
        digest.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    stamp = out / "stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    jars = spark_jars(root)
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = out / "classes.tmp"
    tmp.mkdir(parents=True)
    args_file = out / "sources.txt"
    args_file.write_text("\n".join(str(p) for p in sources) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args_file}"]
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=COMPILE_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed (exit {proc.returncode})")
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(Path.cwd()))
