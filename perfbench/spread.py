"""Run the benchmark several times and report each metric's spread.

    python3 perfbench/spread.py --workload stream_cdc --runs 10 [--first-seed 1] [--seconds 16]

Each run gets its own seed. For every metric the script prints the
median of the runs and the distance between the first and third
quartile (`statistics.quantiles(values, n=4)`) as a share of that
median, next to the bound in BENCHMARK.json, plus every run's wall
time. The bounds in BENCHMARK.json were derived from this output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0",
        ]
        t = time.time()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.time() - t)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        for line in out.stdout.splitlines():
            if line.startswith("#"):
                print("   ", line)
        print(
            f"seed {seed}: {walls[-1]:.1f} s wall, correct={res['correct']} "
            f"attempted={res['attempted']} failed={res['failed']} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True,
        )
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{args.workload}: {args.runs} runs, wall median {stats.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vals in values.items():
        spread = stats.quartile_spread(vals) if len(vals) >= 2 else float("nan")
        bound = bounds.get(k)
        print(
            f"  {k:34s} median {stats.median(vals):12.5g}  spread {spread:7.3f}"
            + (f"  bound {bound}" if bound is not None else "")
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
