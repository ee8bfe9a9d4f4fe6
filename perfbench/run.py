"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload news_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it is the full
record of the run (input properties, every timed run, output checks,
failures, the tail percentile's rank and sample count). A traced run
also writes its spans to ``.perfbench/spans/``.

Exits with code 2, printing no result, when the program's package or
``BENCHMARK.json`` is missing or the workload is unknown.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import harness

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        print(f"error: {bench_file} not found", file=sys.stderr)
        return 2
    with open(bench_file) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    if args.workload not in names:
        print(f"error: unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, harness.PACKAGE, "__init__.py")):
        print(f"error: the program package {harness.PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    wl = importlib.import_module(f"perfbench.{args.workload}")
    return harness.main(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, wl)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
