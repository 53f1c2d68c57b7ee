"""Build file of the benchmark: compiles the engine's sources and the
benchmark client together with the Scala compiler that ships with Spark.

    python3 perfbench/build.py        # prints the classes directory

The classes land in `.bench_build/classes` at the repository root and are
rebuilt only when a source file changes. No dependency is resolved: the
classpath is Spark's own jars, as in `build.sbt`.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "scala"


def spark_jars() -> str:
    return str(Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars" / "*")


def sources():
    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").is_file():
        raise FileNotFoundError(
            f"engine sources not found under {ENGINE_SRC}: run the "
            "benchmark from a full checkout of the repository")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def ensure() -> Path:
    """Compile if any source changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    key = h.hexdigest()
    classes = BUILD / "classes"
    stamp = BUILD / "classes.stamp"
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and stamp.read_text() == key and classes.is_dir():
            return classes
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        jars = spark_jars()
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
               "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
               "-classpath", jars] + [str(f) for f in srcs]
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        os.replace(tmp, classes)
        stamp.write_text(key)
    return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except (FileNotFoundError, RuntimeError) as e:
        print(e, file=sys.stderr)
        sys.exit(1)
