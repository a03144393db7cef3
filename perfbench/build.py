"""Build file of the benchmark: compiles graft's sources together with the
benchmark's own (`perfbench/src`) into one class directory, with the Scala
compiler that ships among Spark's jars. A stamp of every source's content
skips the compile when nothing changed. `perfbench/run.py` calls `build()`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    if shutil.which("java"):
        return "java"
    raise BuildError("java not found: set JAVA_HOME")


def sources():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build():
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jar_list = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(
        ["-d", str(classes), "-classpath", jar_list, "-nowarn"] +
        [str(f) for f in srcs]) + "\n")
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", f"@{args_file}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    stamp_file.write_text(stamp)
    return classpath

