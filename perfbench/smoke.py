#!/usr/bin/env python3
"""Smoke test of the benchmark harness at a tiny corpus size.

    python3 perfbench/smoke.py

Runs every workload, traced, in one Spark session and checks that it
reports no failure, emits every per-layer metric of ``BENCHMARK.json``
and records parent-linked spans. Then copies a store, flips one payload
byte in the copy and checks that scanning the copy fails against the
oracle (a non-zero error rate). Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = 400
SEED = 7


def corrupt_one_payload_byte(store: str) -> None:
    """Flip one byte in the middle of the largest payload of the first chunk file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = sorted(os.path.join(store, "chunks", f)
                  for f in os.listdir(os.path.join(store, "chunks")))[0]
    table = pq.read_table(path)
    payloads = table.column("payload").to_pylist()
    i = max(range(len(payloads)), key=lambda k: len(payloads[k]))
    b = bytearray(payloads[i])
    b[len(b) // 2] ^= 0x5A
    payloads[i] = bytes(b)
    col = table.schema.get_field_index("payload")
    table = table.set_column(col, table.schema.field(col),
                             pa.array(payloads, table.schema.field(col).type))
    pq.write_table(table, path, compression="none")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.envpin import pin

    env = pin(ROOT)
    import fsst_spark  # noqa: F401  (malloc tuning before the JVM starts)
    from perfbench.corpus import Oracle, ensure_corpus
    from perfbench.harness import run_workload, start_session, stop_session
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, IngestScan, Run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(env["work"], "smoke")
    problems: list[str] = []
    spark = start_session("smoke")
    try:
        for w in spec["workloads"]:
            name = w["name"]
            res = run_workload(name, SEED, 0, True, work, env["cores"],
                               rows=ROWS, spark=spark)
            if res["failed"]:
                problems.append(f"{name}: {res['failed']} of {res['attempted']} ops failed")
            missing = [m["name"] for m in spec["per_layer"]
                       if m["name"] not in res["per_layer"]]
            if missing:
                problems.append(f"{name}: per-layer metrics missing: {missing}")
            spans = res["tracer"].spans
            ids = {s["id"] for s in spans}
            orphans = [s["name"] for s in spans
                       if s["parent"] is not None and s["parent"] not in ids]
            ops = [s for s in spans if s.get("layer") not in (None, "setup")]
            if orphans or not ops or any(s["parent"] is None for s in ops):
                problems.append(f"{name}: spans not parent-linked")
            print(f"smoke {name}: attempted {res['attempted']} failed {res['failed']} "
                  f"spans {len(spans)}")

        corpus = ensure_corpus(work, SEED, ROWS)
        run = Run(spark, corpus, os.path.join(work, "stores"),
                  Tracer("smoke-corrupt", enabled=False), SEED)
        run.oracle = Oracle.build(spark, corpus)
        wl = IngestScan(run)
        wl.step()
        bad = run.fresh_dir("corrupt-store")
        shutil.copytree(wl.store, bad)
        corrupt_one_payload_byte(bad)
        n_good = len(run.samples)
        wl.scan(bad)
        run.check_pending()
        scans = run.samples[n_good:]
        failed = sum(not s.ok for s in scans)
        print(f"smoke corrupted store: error_rate {failed / len(scans):.2f}")
        if any(not s.ok for s in run.samples[:n_good]):
            problems.append("the intact store failed its checks")
        if not failed:
            problems.append("a corrupted payload byte went undetected")
        if set(WORKLOADS) != {w["name"] for w in spec["workloads"]}:
            problems.append("BENCHMARK.json workloads differ from the harness's")
    finally:
        stop_session(spark)
    for p in problems:
        print("SMOKE FAIL", p)
    print("SMOKE", "FAIL" if problems else "PASS")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
