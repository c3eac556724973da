"""Builds the engine and the benchmark client from source.

    python3 perfbench/build.py        # from the repository root

Compiles `src/main/scala` (the engine) and `perfbench/src` (the client)
with the Scala compiler that ships in Spark's jar directory, into
`$CARGO_TARGET_DIR/perfbench/classes` (default `.bench_build`). A stamp over
every source file skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark/Scala jars under {jars} (set SPARK_HOME)")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit(f"build: engine sources not found under {engine}")
    files = []
    for d in (engine, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def ensure():
    """Returns the classes directory, compiling first if sources changed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


if __name__ == "__main__":
    print(ensure()[0])
