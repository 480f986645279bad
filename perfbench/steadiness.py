"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each workload and prints, per metric,
the median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound from
``BENCHMARK.json``.  A benchmark is steady when every spread stays well
under its bound.  Each run measures for ``run_seconds`` of
``BENCHMARK.json``.

    python3 perfbench/steadiness.py --workload serve --seeds 1 2 3 4 5

Run it from the repository root; it runs the benchmark sequentially, one
process at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(command: list, workload: str, seed: int, seconds: int) -> tuple:
    """(report, result): the run's last two stdout lines, the report with
    the run's wall time added."""
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    wall = time.perf_counter() - t0
    report, result = out.stdout.strip().splitlines()[-2:]
    return {"wall_s": wall, **json.loads(report)}, json.loads(result)


def spread(values) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args(argv)
    values: dict = {}
    for seed in args.seeds:
        report, res = run_once(bench["command"], args.workload, seed, bench["run_seconds"])
        print(json.dumps(report), flush=True)
        print(json.dumps({"seed": seed, **res}), flush=True)
        if not res["correct"]:
            print(f"seed {seed}: incorrect result", file=sys.stderr)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        s = spread(vals) if len(vals) >= 2 else float("nan")
        print(f"{args.workload:6s} {name:28s} median {statistics.median(vals):12.4f} "
              f"spread {s:7.4f} bound {bounds.get(name, float('nan')):5.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
