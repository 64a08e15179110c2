"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The workload runs in this process
against the checkout's ``driftmind_spark`` package on ``local[nproc]``.
With ``--trace 0`` the last line holds every end-to-end metric named in
``BENCHMARK.json``; with ``--trace 1`` (Spark event log on, benchmark
spans recorded) every per-layer metric, a layer that did no work on the
workload reading 0.  The traced run also writes its spans and event-log
groups to ``.perfbench/traces/``.  Exit code 2 without a result line
when the package under test is missing.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("search_serve", "kg_build")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metric_block(declared: list[dict], values: dict) -> dict:
    out = {}
    for m in declared:
        value, unit = values.get(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} != declared "
                               f"{m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("driftmind_spark") is None:
        print("perfbench: package driftmind_spark not found in "
              f"{ROOT}; run from the root of a full checkout",
              file=sys.stderr)
        return 2

    from perfbench import harness

    declared = _declared()
    ctx = harness.RunContext(args.workload, args.seed, args.seconds,
                             bool(args.trace))
    ctx.export_env()
    workload = importlib.import_module(f"perfbench.{args.workload}")
    try:
        result = workload.run(ctx)
    finally:
        harness.stop_jvm()
        ctx.cleanup()

    if args.trace:
        # 0 until an untraced run of this workload and of this code, with
        # its checks passed, is recorded in the checkout
        walls = harness.untraced_walls(args.workload)
        values = dict(result["layers"])
        values["trace.overhead_ratio"] = (
            result["wall_s"] / harness.median(walls) if walls else 0.0,
            "ratio")
        values["failed_ratio"] = (result["failed"] / result["attempted"],
                                  "ratio")
        metrics = _metric_block(declared["per_layer"], values)
    else:
        if result["correct"]:
            harness.record_untraced_wall(args.workload, args.seed,
                                         result["wall_s"])
        missing = [m["name"] for m in declared["end_to_end"]
                   if m["name"] not in result["metrics"]]
        if missing:
            raise RuntimeError(f"{args.workload} did not measure {missing}")
        metrics = _metric_block(declared["end_to_end"], result["metrics"])
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
