#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's run-to-run
spread, the way the acceptance check computes it.

    python3 cdcbench/series.py --workload <name> [--runs 10] [--first-seed 1]
        [--trace 0|1]

Runs cdcbench/run.py once per seed (sequentially, from the checkout root),
then prints per metric: median, inter-quartile spread as a share of the
median, and the metric's bound from BENCHMARK.json with a flag when the
spread exceeds a third of it. Also checks that free disk space after the
series is not below what it was before (every run must clean up after
itself). Exits non-zero on a failed run, a wrong result or shrinking disk.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402

# free space may move by this much for reasons outside the benchmark
DISK_SLACK_MB = 200


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    free0 = shutil.disk_usage(ROOT).free
    values, bad = {}, 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: run failed\n{r.stderr[-2000:]}")
            bad += 1
            continue
        res = json.loads(last)
        if not res["correct"]:
            bad += 1
        print(f"seed {seed}: correct={res['correct']} "
              f"{res['attempted'] - res['failed']}/{res['attempted']} checks; "
              + r.stdout.splitlines()[0], flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    free_delta = (shutil.disk_usage(ROOT).free - free0) / 1e6
    print(f"\n{args.workload}: {args.runs} runs, free disk delta "
          f"{free_delta:+.1f} MB")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        s = bl.spread(vs)
        b = bounds.get(k)
        flag = "" if b is None or s < b / 3 else "  <-- above a third of bound"
        print(f"  {k:34s} median {bl.median(vs):14.4f}  spread {s:7.4f}"
              f"  bound {b if b is not None else '-'}{flag}")
        print("      " + " ".join(f"{v:.4g}" for v in vs))
    if bad or free_delta < -DISK_SLACK_MB:
        sys.exit(1)


if __name__ == "__main__":
    main()
