#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (see build.py), checks that
the host has the disk and memory the workload needs, then runs the workload
in one JVM at local[nproc] with an explicit heap. Spark's local dir and the
checkpoint root live in a fresh scratch directory under the build directory
(disk, not /dev/shm), deleted after the run. The JVM prints two JSON lines:
a detail record (host shape, per-workload figures, failed checks) and, last,
the result line `{"correct", "attempted", "failed", "metrics"}`. Each run's
detail record is also kept under <build dir>/perfbench/results for
compare.py. Exits non-zero, printing no result, if anything fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # the checkout stays as it was
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("link_analytics", "partition_vcycle")
HEAP_MB = 3072
# what one run needs beyond the heap: off-heap/native JVM memory and the
# scratch files (parquet inputs, checkpoints, shuffle spill)
NEED_MEM_MB = HEAP_MB + 1536
NEED_DISK_MB = 2048
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def mem_available_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


def preflight(path):
    free_disk = shutil.disk_usage(path).free // (1 << 20)
    if free_disk < NEED_DISK_MB:
        fail(f"{free_disk} MB free disk under {path}, need {NEED_DISK_MB} MB")
    avail = mem_available_mb()
    if avail < NEED_MEM_MB:
        fail(f"{avail} MB RAM available, need {NEED_MEM_MB} MB")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    def on_term(signum, frame):
        raise SystemExit(f"perfbench: signal {signum}")

    signal.signal(signal.SIGTERM, on_term)
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec):
        fail(f"missing {spec}")
    out = build.build_dir()
    classes = build.build(out)
    cpus = len(os.sched_getaffinity(0))
    preflight(out)
    results = os.path.join(out, "results")
    scratch = os.path.join(out, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    cmd = (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, build.spark_jars()]),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--work", scratch,
              "--results", results, "--spec", spec])
    proc = None
    try:
        os.makedirs(tmp)
        # cwd is the scratch directory, so whatever the JVM writes by
        # relative path is deleted with it
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE,
                                text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
        if proc.returncode != 0:
            fail(f"benchmark JVM exited with {proc.returncode}")
        lines = [l for l in stdout.splitlines() if l.strip()]
        result = json.loads(lines[-1]) if lines else None
        if not (isinstance(result, dict) and set(result) ==
                {"correct", "attempted", "failed", "metrics"}):
            fail("benchmark JVM printed no result line")
        sys.stdout.write("\n".join(lines) + "\n")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
