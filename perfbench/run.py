#!/usr/bin/env python3
"""fsst_spark engine benchmark.

    python3 perfbench/run.py --workload <ingest_scan|lookup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Starts one Spark driver at
local[<nproc>], builds the workload's inputs from ``--seed``, runs the
workload's operations closed loop for ``--seconds`` and checks every
output against an oracle that does not use fsst_spark. Prints one line
per figure (``<workload> <metric> <value> <unit>``) and, last, one JSON
object: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_scan", "lookup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fsst_spark", "__init__.py")):
        print(f"no fsst_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    spec = _spec()

    sys.path.insert(0, ROOT)
    from perfbench.envpin import pin

    env = pin(ROOT)
    import fsst_spark  # noqa: F401  (malloc tuning before the JVM starts)
    from fsst_spark.kernel.native import get_lib
    from perfbench.harness import run_workload

    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                       env["work"], env["cores"])
    w = args.workload
    print(f"{w} master {env['SPARK_GRAFT_MASTER']} driver_mem {env['SPARK_GRAFT_DRIVER_MEM']}")
    for name, (value, unit, *note) in res["named"].items():
        print(f"{w} {name} {'n/a' if value is None else f'{value:.6g}'} {unit} {' '.join(note)}")
    for m in spec["end_to_end"]:
        print(f"{w} {m['name']} {res['end_to_end'][m['name']]:.6g} {m['unit']}")
    print(f"{w} samples {res['samples']} attempted {res['attempted']} failed {res['failed']}")
    print(f"{w} rep_walls_s {' '.join(f'{x:.3f}' for x in res['rep_walls'])}")
    print(f"{w} op_p50_s {' '.join(f'{k}={v:.3f}' for k, v in res['op_p50s'].items())}")
    if get_lib() is None:
        print(f"{w} WARNING native C kernel not loaded: numpy fallback numbers")
    figures = res["per_layer"] if args.trace else res["end_to_end"]
    declared = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in figures]
    if missing:
        print(f"metrics not computed: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": figures[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
