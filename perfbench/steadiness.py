"""Steadiness report: run one workload with N seeds and summarise each
end-to-end metric.

    python3 perfbench/steadiness.py --workload NAME [--runs 10] [--seed0 1]

For every metric it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the quartile spread as a share
of the median. A metric whose spread exceeds a tenth is flagged, and so is
one whose spread exceeds a third of its bound in BENCHMARK.json. Runs go
one after another, never in parallel, so they do not contend for cores.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict = {}
    for i in range(args.runs):
        seed = args.seed0 + i
        cmd = bench["command"] + ["--workload", args.workload,
                                  "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n"
                  f"{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':24s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s}")
    for k, vs in values.items():
        med, q1, q3, sp = spread(vs)
        flags = []
        if sp > 0.1:
            flags.append("> 0.1")
        if bounds.get(k) and sp > bounds[k] / 3:
            flags.append("> bound/3")
        print(f"{k:24s} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.3f} "
              f"{' '.join(flags)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
