"""Crawl-stream benchmark runner.

    python3 perfbench/run.py --workload steady-crawl --seed 1 --seconds 20 --trace 0

Builds the program from source (see build.py), runs one JVM with a
local[4] Spark session that drives the four crawl-stream stages, and prints
the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (and
writes the span trace to .bench_build/perfbench/traces/). Progress and a
human-readable metric table go to standard error.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("steady-crawl", "high-churn")
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    cmd = build.jvm_command(work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--result", result])
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=TIMEOUT_S).returncode
        if rc != 0 or not os.path.exists(result):
            print(f"benchmark JVM failed (exit code {rc})", file=sys.stderr)
            return 1
        with open(result) as f:
            out = json.load(f)
        trace = os.path.join(work, "trace.jsonl")
        if os.path.exists(trace):
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(trace, os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    except subprocess.TimeoutExpired:
        print(f"benchmark JVM exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        # PERFBENCH_KEEP=1 keeps the inputs, ground truth and outputs
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
