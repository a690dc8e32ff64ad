"""Run-to-run spread of the benchmark's metrics over several seeds.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--seconds S] [--trace 0|1]

Runs ``run.py`` once per seed, one run at a time, and prints for every
metric its median, quartiles (``statistics.quantiles(values, n=4)``) and
spread = (Q3 - Q1) / median, next to the metric's bound from
``BENCHMARK.json``, plus each run's wall time. ``--seconds`` defaults to
``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_list)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.monotonic() - t0
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall {wall:.1f} s, correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}",
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        values.setdefault("wall_s", []).append(wall)
    for name, vals in values.items():
        med, q1, q3, s = spread(vals)
        bound = bounds.get(name)
        flag = "" if bound is None else f" bound {bound} ({s / bound:.2f} of it)"
        print(f"{name:28s} median {med:12.4f}  Q1 {q1:12.4f}  Q3 {q3:12.4f}  "
              f"spread {s:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
