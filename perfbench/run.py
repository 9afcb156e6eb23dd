"""Benchmark entry point.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 12 --trace 0

Runs one workload (olap_mix or tenant_mix) and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0`` (set-up and per-operation CPU time), the
per-layer metrics with ``--trace 1`` (wall-clock latencies and rates
among them).
``BENCHMARK.json`` at the root of the repository lists the workloads,
metrics and regression bounds. Performance claims are judged by this
benchmark; the sum of per-query minimums that ``bench.py`` prints is not
a benchmark result. Exits with code 2, printing no result, when the
checkout holds no program to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str]) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(root, "citus_spark")):
        print(f"no program to measure: {root} has no citus_spark package",
              file=sys.stderr)
        return 2
    # resolve the program from this checkout before anything else can
    # put another copy on the path
    import citus_spark  # noqa: F401
    from perfbench.harness import Run

    os.chdir(root)
    result = Run(root, args.workload, args.seed, args.seconds,
                 bool(args.trace)).execute()
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
