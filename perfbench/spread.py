"""Run-to-run spread of the end-to-end metrics, against BENCHMARK.json's bounds.

    python3 perfbench/spread.py --runs 10 [--workload agg] [--first-seed 1]

Runs the benchmark once per seed (seeds first-seed .. first-seed+runs-1) and
prints, per workload and metric, the median, the quartiles and the spread
(Q3 - Q1) / median, with the metric's bound and bound/3 beside it, and the
same for the wall op_p50_s, which has no bound. Each run uses
BENCHMARK.json's run_seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from run import ROOT, run_subprocess


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append", help="default: every workload")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for workload in workloads:
        values: dict[str, list[float]] = {name: [] for name in bounds}
        wall_p50: list[float] = []  # reported beside the gated metrics, not gated
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t = time.perf_counter()
            context, result = run_subprocess(workload, seed, spec["run_seconds"], 0)
            wall = time.perf_counter() - t
            ok = ok and result["correct"]
            for name in bounds:
                values[name].append(result["metrics"][name]["value"])
            wall_p50.append(context["op_p50_s"])
            print(f"{workload} seed={seed} correct={result['correct']} " + " ".join(
                f"{k}={v[-1]:.4f}" for k, v in values.items())
                + " op_s=" + ",".join(f"{x:.2f}" for x in context["op_s"])
                + " op_cpu_s=" + ",".join(f"{x:.2f}" for x in context["op_cpu_s"])
                + f" steal={context['host_steal_share']:.3f} wall={wall:.1f}s", flush=True)
        for name, xs in values.items():
            q1, mid, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / mid
            print(f"  {workload:<6} {name:<15} median={mid:.4f} q1={q1:.4f} q3={q3:.4f} "
                  f"spread={spread:.4f} bound={bounds[name]} bound/3={bounds[name] / 3:.4f}")
        q1, mid, q3 = statistics.quantiles(wall_p50, n=4)
        print(f"  {workload:<6} {'op_p50_s wall':<15} median={mid:.4f} q1={q1:.4f} q3={q3:.4f} "
              f"spread={(q3 - q1) / mid:.4f} (not gated)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
