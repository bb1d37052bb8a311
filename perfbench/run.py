"""Run one workload of the warehouse benchmark.

    python3 perfbench/run.py --workload etl_month --seed 1 --seconds 20 --trace 0

Builds the program from source on first use (see build.py), runs the
workload in one JVM and relays its output; the last line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. Exits with
a non-zero code, printing no result, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_month", "cdc_refresh")
RUN_LIMIT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    classes = build.build()
    work = build.build_dir() / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cmd = build.java_command(classes) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace, "--work", str(work)]
    started = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: {args.workload} did not finish within {RUN_LIMIT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict):
        print("\n".join(l for l in lines if not l.startswith("{")))
        sys.exit(f"run: {args.workload} failed with code {proc.returncode}")
    print("\n".join(lines[:-1]))
    print(f"# wall {time.time() - started:.1f} s")
    print(lines[-1])


if __name__ == "__main__":
    main()
