#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` records spans around every call
into the engine and prints the per-layer metrics instead.  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  A line before it (``# detail``) gives the
sample counts and tail percentiles behind the numbers.  A run that cannot
find the engine in the checkout exits with code 2 and prints no result.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("registry", "ingest_search")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", choices=("full", "tiny"), default="full",
        help="tiny: smallest inputs and a few operations (the benchmark's own test)",
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "daisy_spark", "__init__.py")):
        harness.log(f"no engine (daisy_spark/) under {ROOT}; nothing to measure")
        return 2
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    module = __import__(args.workload)
    tracer = harness.Tracer(enabled=bool(args.trace))
    res = harness.Result()
    module.run(args, res, tracer, T_START)
    if tracer.enabled:
        harness.log(f"spans: {tracer.write(args.workload, args.seed)}")
    metrics.complete(res, trace=bool(args.trace))
    if res.problems:
        harness.log("checks failed:\n  " + "\n  ".join(res.problems))
    print("# detail " + json.dumps(res.detail, sort_keys=True))
    print(res.line(trace=bool(args.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
