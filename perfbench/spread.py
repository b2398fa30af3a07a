"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload NAME --seeds 1 2 3 4 5 [--seconds S]

Runs ``run.py`` once per seed, one after another, and prints per metric
the median and the quartile spread ``(q3 - q1) / median`` of its values
(``statistics.quantiles(values, n=4)``), beside the metric's bound from
``BENCHMARK.json``. A benchmark is steady when every spread is well below
its bound.
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


def spread(values) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        probe = json.loads(lines[-2]).get("probe", {})
        print(f"seed {seed}: {time.perf_counter() - t0:.0f}s "
              f"correct={result['correct']} "
              f"probe_flagged={probe.get('flagged')} " + " ".join(
                  f"{k}={m['value']:.4g}"
                  for k, m in result["metrics"].items()), flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    if len(args.seeds) >= 2:
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            print(f"{m['name']:>14}: median {statistics.median(xs):.4g} "
                  f"spread {spread(xs):.3f} bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
