#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload linkage --seeds 1-10 --seconds 12

For every metric it prints the median of the runs and the distance
between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), and marks the end-to-end metrics
whose spread exceeds a third of their bound in ``BENCHMARK.json``. With
``--out`` it also writes every run's result and report as JSON.
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


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile range / median)."""
    med = statistics.median(values)
    if len(values) < 2 or not med:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs, values = [], {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True)
        elapsed = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
            return 1
        result = json.loads(lines[-1])
        report = json.loads(lines[-2])["report"]
        runs.append({"seed": seed, "elapsed_s": elapsed, "result": result,
                     "report": report})
        print(f"seed {seed}: {elapsed:.0f} s, correct={result['correct']}, "
              f"steal={report['host']['end'].get('steal_pct')}%", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    summary = {}
    for name, vals in values.items():
        med, iqr = spread(vals)
        summary[name] = {"median": med, "iqr_share": iqr}
        flag = ""
        if name in bounds and name != "setup_s" and iqr > bounds[name] / 3:
            flag = f"  > bound/3 ({bounds[name] / 3:.3f})"
        print(f"{name:32s} median {med:14.4f}  iqr/median {iqr:.4f}{flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
