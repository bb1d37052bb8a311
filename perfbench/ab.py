"""Same-box A/B comparison of two commits on the warehouse benchmark.

    python3 perfbench/ab.py [--base REV] [--change REV] [--pairs 10]
                            [--workloads etl_month,cdc_refresh] [--dir DIR]

Exports each commit's tree with `git archive` (the files git commits,
as a clean checkout has them), lays this tree's `perfbench/` and
`BENCHMARK.json` over both so that both sides run identical benchmark
code, and builds each side once. Then runs the pairs: pair i uses seed
i on both sides, and the side that runs first alternates. For each
workload and end-to-end metric it prints each side's median and
quartiles and the share of pairs the change won (ties count for
neither). Defaults: the change is HEAD, the base its first parent.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import spread  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def export(rev, dest):
    """A clean tree of `rev` at `dest`, carrying this tree's benchmark."""
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "archive", "--format=tar", rev], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab: git archive {rev} failed")
    shutil.rmtree(dest / "perfbench", ignore_errors=True)
    shutil.copytree(ROOT / "perfbench", dest / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", dest / "BENCHMARK.json")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--base")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--dir", default=str(ROOT / ".bench_build" / "ab"))
    args = ap.parse_args()
    if args.pairs < 10:
        print("ab: fewer than 10 pairs cannot support a claim", file=sys.stderr)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    change = git("rev-parse", args.change)
    base = git("rev-parse", args.base or f"{change}^")
    sides = {"base": base, "change": change}
    trees = {}
    for side, rev in sides.items():
        trees[side] = Path(args.dir) / side
        export(rev, trees[side])
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=trees[side], check=True,
                       stdout=subprocess.DEVNULL)
    print(f"base {base[:12]}  change {change[:12]}  pairs {args.pairs}  "
          f"run_seconds {seconds}", flush=True)

    values = {(w, s): {} for w in workloads for s in sides}
    for i in range(args.pairs):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for w in workloads:
            for side in order:
                r = spread.run(w, i + 1, seconds, cwd=trees[side])
                if not r["correct"]:
                    print(f"pair {i + 1} {w} {side}: WRONG OUTPUT "
                          f"({r['failed']} of {r['attempted']} failed)", flush=True)
                for name, m in r["metrics"].items():
                    values[(w, side)].setdefault(name, []).append(m["value"])
        print(f"pair {i + 1} done", flush=True)

    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':14s} {'base median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
              f" {'change won':>10s}")
        for m in bench["end_to_end"]:
            b = values[(w, "base")][m["name"]]
            c = values[(w, "change")][m["name"]]
            sign = -1 if m["better"] == "lower" else 1
            won = sum(1 for x, y in zip(b, c) if sign * (y - x) > 0)

            def fmt(xs):
                q1, q3 = quartiles(xs)
                return f"{statistics.median(xs):.4f} [{q1:.4f}, {q3:.4f}]"
            print(f"  {m['name']:14s} {fmt(b):>30s} {fmt(c):>30s} {won:>4d}/{len(b)}")


if __name__ == "__main__":
    main()
