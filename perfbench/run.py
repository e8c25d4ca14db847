#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \
        --seconds 30 --trace 0

Runs from the root of a checkout.  Prints one informational JSON line
(``{"info": ...}``: host sizing, per-call samples, failure reasons,
failed_frac) and, last, the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("extract_mixed", "mm_curate", "curate_flat")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.seed < 0:
        # the seed becomes part of every media ref ("m<seed>-doc-...")
        p.error("--seed must be >= 0")

    if not os.path.isfile(os.path.join(REPO, "ocr_gang_spark", "__init__.py")):
        print(f"perfbench: no ocr_gang_spark package under {REPO}",
              file=sys.stderr)
        return 2

    # sizing must precede every numpy / pyspark import
    sys.path.insert(0, REPO)
    from perfbench import host, proctree

    # every process the run starts is stopped and waited for before it
    # exits, on a SIGTERM too
    proctree.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        out = _run(args)
    finally:
        try:
            host.stop_jvm()
        finally:
            killed = proctree.reap()
    from ocr_gang_spark.hostprobe import steal_probe

    out["info"]["host"].update(killed_at_exit=killed,
                               steal_probe_s=steal_probe())
    print(json.dumps({"info": out["info"]}, sort_keys=True))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in out["metrics"].items()},
    }))
    return 0


def _run(args) -> dict:
    from perfbench import host

    sizing = host.configure(REPO, WORK)
    if args.trace:
        from perfbench import trace

        out = trace.traced_run(args.workload, args.seed, sizing["cores"],
                               WORK)
    else:
        from perfbench import harness

        out = harness.measure(args.workload, args.seed, args.seconds,
                              sizing["cores"], WORK)
    out["info"]["host"] = sizing
    return out


if __name__ == "__main__":
    sys.exit(main())
