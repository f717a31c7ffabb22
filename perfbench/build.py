#!/usr/bin/env python3
"""Build the engine (src/main/scala) and the benchmark (perfbench/src) with
the Scala compiler that ships in Spark's jars directory, into
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench under the
checkout). The output is keyed by a hash of every source file, so a second
run of the same sources reuses it.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COMPILE_TIMEOUT_S = 800


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def spark_jars():
    """Classpath entry for Spark's jars: $SPARK_HOME/jars, else the
    installation spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler at {jars!r}; "
                 "set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        sys.exit(f"perfbench: no engine sources under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    return engine + bench


def build(out):
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(out, exist_ok=True)
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + srcs
    try:
        subprocess.run(cmd, check=True, timeout=COMPILE_TIMEOUT_S,
                       stdout=sys.stderr)
    except subprocess.CalledProcessError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: scalac exited with {e.returncode}")
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: scalac ran over {COMPILE_TIMEOUT_S} s")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(build_dir()))
