"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload etl_month --seeds 1-10

Runs the workload once per seed, then prints, for each end-to-end
metric, the median of the runs and the distance between the first and
third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median, next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, cwd=ROOT):
    """One untraced run; returns its result object (raises on failure)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(out.stdout.strip().split("\n")[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    values = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        r = run(args.workload, seed, seconds)
        if not r["correct"]:
            sys.exit(f"seed {seed}: outputs wrong ({r['failed']} of {r['attempted']} failed)")
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} ({time.time() - t0:.0f} s): " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        s = spread(xs)
        flag = "ok" if s < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:14s} median {statistics.median(xs):10.4f} {m['unit']:3s} "
              f"spread {s:6.3f}  bound {m['bound']:.2f}  {flag}")


if __name__ == "__main__":
    main()
