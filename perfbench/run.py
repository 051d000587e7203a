#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tiles_algebraic --seed 1 --seconds 12 --trace 0

With ``--trace 0`` the run prints the end-to-end metrics; with ``--trace 1``
it also takes the pipeline apart layer by layer and prints the per-layer
metrics instead. Human-readable lines come first, then one JSON line of run
details (host, versions, input sizes, failures), and last one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is 0 whenever a result is printed, including an incorrect one;
a run that cannot start (for example, no engine next to this directory)
exits non-zero and prints no result. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="how long the timed passes run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="tiny inputs, for the self-test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    # every file the run writes goes here, and the directory goes at exit
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        from perfbench import harness

        env = harness.configure_environment(ROOT, tmp)
        from perfbench import workloads

        workload = workloads.make(args.workload, args.seed, toy=args.toy)
        result = harness.run(workload, ROOT, tmp, args.seconds, bool(args.trace), env)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    tally = result["tally"]
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    for name, (value, unit) in metrics.items():
        print(f"{name:28s} {value:14.6g} {unit}")
    if not args.trace:
        for name, (value, unit) in result["info"].items():
            print(f"{name:28s} {value:14.6g} {unit}  (not bounded)")
    print(f"{'failed_frac':28s} {tally.failed / tally.attempted:14.6g} "
          f"({tally.failed} of {tally.attempted} operations)")
    print(f"{'correct':28s} {str(tally.failed == 0):>14s}")
    print(json.dumps({"perfbench_run": result["details"]}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
