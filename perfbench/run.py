"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Everything the run writes lives under
``.perfbench/`` in that checkout and is removed at exit, except traced
runs' span files (``.perfbench/traces/``).  The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is a report with every measured value,
including ``error_rate`` and the query sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "archivesspace_virgo_spark"


def declared_metrics() -> dict:
    """section -> {name: unit} of the metrics ``BENCHMARK.json`` lists
    under ``end_to_end`` and ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {section: {m["name"]: m["unit"] for m in bench[section]}
            for section in ("end_to_end", "per_layer")}


def parse_args(argv):
    ap = argparse.ArgumentParser(description="archivesspace_virgo_spark benchmark")
    ap.add_argument("--workload", required=True, choices=("serve", "sync"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, the JVM behind it and every process under it
    (PySpark daemon and workers), and wait until all have exited."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        alive = {p for p in children if os.path.exists(f"/proc/{p}")}
        while alive and time.time() < deadline:
            time.sleep(0.1)
            alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        while {p for p in alive if os.path.exists(f"/proc/{p}")} and time.time() < deadline + 5:
            time.sleep(0.1)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]

    from session import prepare_env

    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, f"run-{os.getpid()}")
    prepare_env(ROOT, tmp)
    from workloads import REPORT_UNITS, Run, execute

    run = Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), tmp=tmp)
    try:
        values = execute(run)
    except Exception:
        traceback.print_exc()
        print(f"perfbench: run failed; checks so far {run.attempted} attempted, "
              f"{run.failed} failed: {run.failures[:5]}", file=sys.stderr)
        return 1
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        if run.trace and run.tracer is not None:
            run.tracer.dump(os.path.join(
                work, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        shutil.rmtree(tmp, ignore_errors=True)

    for f in run.failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    declared = declared_metrics()
    units = declared["per_layer" if args.trace else "end_to_end"]
    every = {**REPORT_UNITS, **declared["end_to_end"], **declared["per_layer"]}
    report = {name: {"value": v, "unit": every[name]} for name, v in values.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report}, sort_keys=True))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
