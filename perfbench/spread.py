"""Run a workload over several seeds and report each metric's spread.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload index_lifecycle --seeds 1-10 [--trace 0]

For every metric it prints the median of the per-seed values and the
distance between their first and third quartiles as a share of that
median, next to the metric's bound from BENCHMARK.json. A steady
benchmark keeps every spread below a third of its bound.
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


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.time() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: rc={out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        info = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
        shown = "" if args.trace else " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()
        )
        shown += " passes=" + ",".join(f"{p:.2f}" for p in info.get("pass_s", []))
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} {shown}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        values.setdefault("run_wall_s", []).append(wall)

    print(f"\n{'metric':<48} {'median':>12} {'spread':>8} {'bound':>6}")
    for name, xs in values.items():
        if len(xs) < 2 or not any(xs):
            continue
        b = bounds.get(name)
        print(f"{name:<48} {statistics.median(xs):>12.4f} {spread(xs):>8.3f} "
              f"{'' if b is None else b:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
