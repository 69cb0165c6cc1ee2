"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload cdc_trickle --seed 7 --seconds 12 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (perfbench/build.py); each run then starts one JVM with a fixed
heap, on Spark local[<cores>], for one workload. Every file a run writes
lives under .bench_build/ and the run's own directory is removed when it
ends. --trace 1 prints the per-layer metrics instead of the end-to-end ones
and writes the spans to .bench_build/spans/. --size tiny and --fault 1 are
for the self-tests (perfbench/tests).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_backfill", "cdc_trickle", "pipeline_ingest")
HEAP = "2g"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--fault", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a run stopped from outside stops its JVM too (the finally below)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    classes = build.build()
    work = os.path.join(build.BUILD_DIR, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size,
            "--fault", str(args.fault), "--work", work]
    if args.trace:
        spans = os.path.join(build.BUILD_DIR, "spans")
        os.makedirs(spans, exist_ok=True)
        cmd += ["--spans", os.path.join(spans, "%s-seed%d.jsonl" % (args.workload, args.seed))]
    log_path = os.path.join(build.BUILD_DIR, "work", "%s-%d-%d.log" % (args.workload, args.seed, os.getpid()))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.stderr.write("perfbench: run exceeded %d s\n" % TIMEOUT_S)
                return 1
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if result is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.stderr.write("perfbench: the run printed no result (exit %d)\n" % proc.returncode)
        return proc.returncode or 1
    if proc.returncode == 0:
        os.remove(log_path)
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
