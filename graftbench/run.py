"""Benchmark command of the graft engine.

    python3 graftbench/run.py --workload bm25|ann-rw \
        --seed N --seconds S --trace 0|1 [--size tiny]

Run from the repository root. Builds the engine and the benchmark from
source (see build.py), then runs one workload in a single JVM on Spark
local[nproc] with one client thread. The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}; the line before
it carries the input hashes and properties, sample counts and failures by
operation type. Raw samples and spans go to graftbench/out/. Exits non-zero
without a result line on any failure.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("bm25", "ann-rw")
TIMEOUT_S = 170
# the same module opens build.sbt gives forked JVMs: Spark needs them on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    args = ap.parse_args()

    cp = build.build()
    bench = pathlib.Path(__file__).resolve().parent
    work = build.build_dir() / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={bench / 'log4j2.properties'}",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", str(work), "--out", str(bench / "out"), "--size", args.size]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch in the run's dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)

    def stop_jvm(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    def on_signal(signum, _frame):
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_jvm()
        print(f"run: {args.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out)
        print(f"run: {args.workload} exited with code {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("run: malformed result line", file=sys.stderr)
        return 1
    print(lines[-2])
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
