"""Tracing for the benchmark's traced run, all timed from outside the engine.

- ``Tracer`` records spans (name, start, end, parent, run id) around the
  benchmark's calls into each layer, keeps them in memory and writes them
  out when the run ends.
- ``SparkRest`` reads Spark's own job, stage and task metrics from the
  driver's local UI REST API.
- ``replay`` runs one input partition through the public kernel functions
  in the driver process, one core.
- ``inspect_store`` reads a finished store's chunk and manifest files.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


class Tracer:
    """In-memory span recorder; a disabled one records nothing.

    ``cost_s`` is the wall time spent recording, the in-loop part of the
    tracing overhead."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.cost_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.cost_s += time.perf_counter() - t1

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> None:
        """Record a span measured elsewhere (Spark jobs, from the REST API)."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "run": self.run_id, "start": start, "end": end, **attrs})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Spark's job/stage/task metrics for the jobs of each benchmark op.

    Every op runs under the job group ``pb.<layer>.<op index>``, so jobs
    are attributed to the op (and layer) that submitted them."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, settle_s: float = 10.0) -> list[dict]:
        """All jobs, once the UI's listener has caught up with the driver."""
        deadline = time.time() + settle_s
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def layer_metrics(self, jobs: list[dict], layer: str) -> dict:
        """Summed task metrics over the jobs whose group names ``layer``."""
        out = {"jobs": 0, "tasks": 0, "tasks_failed": 0, "task_s": 0.0,
               "sched_delay_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "shuffle_fetch_wait_s": 0.0}
        seen: set[int] = set()
        for j in jobs:
            group = j.get("jobGroup") or ""
            if group.split(".")[1:2] != [layer]:
                continue
            out["jobs"] += 1
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for st in self._get(f"/stages/{sid}"):
                    if st["status"] not in ("COMPLETE", "FAILED"):
                        continue
                    out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    out["tasks_failed"] += st["numFailedTasks"]
                    out["task_s"] += st["executorRunTime"] / 1e3
                    out["gc_s"] += st["jvmGcTime"] / 1e3
                    out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                    out["shuffle_fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                    tasks = self._get(f"/stages/{sid}/{st['attemptId']}/taskList"
                                      "?length=1000000")
                    out["sched_delay_s"] += sum(t.get("schedulerDelay", 0)
                                                for t in tasks) / 1e3
        return out

    @staticmethod
    def add_job_spans(tracer: Tracer, jobs: list[dict]) -> None:
        """Link each Spark job, as a child span, to the op span that ran it."""
        by_group = {s["group"]: s["id"] for s in tracer.spans if s.get("group")}
        for j in jobs:
            parent = by_group.get(j.get("jobGroup"))
            start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if parent is not None and start and end:
                tracer.add(f"spark.job.{j['jobId']}", start, end, parent,
                           status=j["status"], tasks=j["numTasks"])


def _median_timings(fn, reps: int) -> dict:
    runs = [fn() for _ in range(reps)]
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}


def _bytes_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    arr = arr.cast(pa.large_binary())
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], np.int64)[arr.offset:arr.offset + len(arr) + 1]
    return np.frombuffer(bufs[2], np.uint8), off.astype(np.int64)


def escape_count(codes: np.ndarray) -> int:
    """Escapes in an FSST code stream.

    Every maximal run of 0xFF bytes starts at a code position, so a run
    of length L holds ceil(L/2) escape markers."""
    ff = np.concatenate(([False], codes == 0xFF, [False])).astype(np.int8)
    edges = np.diff(ff)
    starts, ends = np.flatnonzero(edges == 1), np.flatnonzero(edges == -1)
    return int(((ends - starts + 1) // 2).sum())


def replay(table: pa.Table, reps: int = 3) -> tuple[dict, bool]:
    """One input partition through the public kernel functions, one core.

    Returns (median timings and ratios, every round trip exact)."""
    from fsst_spark.jobs.encode import canonical_bytes
    from fsst_spark.kernel import bloom, hll, qsample
    from fsst_spark.kernel.codecs import (FSST_TRAIN_ROWS, chunk_stats,
                                          decode_column, encode_column)
    from fsst_spark.kernel.fsst import train
    from fsst_spark.kernel.fsst_vec import EncoderTables, decode_chunk, encode_chunk

    from .corpus import raw_bytes_of

    ok = True

    def once() -> dict:
        nonlocal ok
        t: dict = {"stats_s": 0.0, "checksum_s": 0.0, "sketch_s": 0.0}
        for name in table.column_names:
            arr = table.column(name).combine_chunks()
            t0 = time.perf_counter()
            stats = chunk_stats(arr)
            t1 = time.perf_counter()
            enc = encode_column(arr, stats, fsst_cache={})
            t2 = time.perf_counter()
            dec = decode_column(enc)
            t3 = time.perf_counter()
            canonical_bytes(arr)
            t4 = time.perf_counter()
            bloom.bloom_build(arr, stats.get("ndv_est", len(arr)))
            hll.hll_build(arr)
            qsample.qsample_build(arr)
            t5 = time.perf_counter()
            ok = ok and dec.equals(arr)
            t["stats_s"] += t1 - t0
            t[f"encode_column_s.{name}"] = t2 - t1
            t[f"decode_column_s.{name}"] = t3 - t2
            t["checksum_s"] += t4 - t3
            t["sketch_s"] += t5 - t4
            t[f"payload_ratio.{name}"] = (raw_bytes_of(table.select([name]))
                                          / max(1, len(enc["payload"])))
        text = table.column("text").combine_chunks()
        data, off = _bytes_buffers(text)
        vals = [data[off[i]:off[i + 1]].tobytes()
                for i in range(min(len(text), FSST_TRAIN_ROWS))]
        t0 = time.perf_counter()
        comp = train(vals)
        t1 = time.perf_counter()
        tables = EncoderTables.from_compressor(comp)
        t2 = time.perf_counter()
        codes, code_off = encode_chunk(data, off, tables)
        t3 = time.perf_counter()
        out, out_off = decode_chunk(codes, code_off, tables.sym_mat, tables.sym_lens)
        t4 = time.perf_counter()
        raw = int(off[-1] - off[0])
        ok = ok and bytes(out[:out_off[-1]]) == data[off[0]:off[-1]].tobytes()
        t["fsst.train_ms"] = (t1 - t0) * 1e3
        t["fsst.encode_mb_s_1core"] = raw / 1e6 / (t3 - t2)
        t["fsst.decode_mb_s_1core"] = raw / 1e6 / (t4 - t3)
        t["fsst.escape_frac"] = escape_count(codes[:code_off[-1]]) / max(1, raw)
        # One partition's encode work on one core, as the task does it.
        t["partition_s"] = (t["stats_s"] + t["checksum_s"] + t["sketch_s"]
                            + sum(v for k, v in t.items()
                                  if k.startswith("encode_column_s.")))
        return t

    return _median_timings(once, reps), ok


def inspect_store(store: str, raw_bytes: int) -> dict:
    """Store layout facts: files, bytes, codec mix, sketch bytes, FSST
    table reuse and partition wall skew (from the manifest)."""
    from fsst_spark.kernel.codecs import _split_sections

    paths = [os.path.join(d, f) for d, _, fs in os.walk(store) for f in fs]
    store_bytes = sum(os.path.getsize(p) for p in paths)
    chunk_files = sorted(p for p in paths if os.sep + "chunks" + os.sep in p
                         and p.endswith(".parquet"))
    chunks = pa.concat_tables(
        pq.read_table(p, columns=["column", "codec", "params", "payload",
                                  "bloom", "hll", "qsketch"])
        for p in chunk_files)
    mix: dict[str, dict[str, int]] = {}
    payload = sketch = n_fsst = 0
    fsst_tables: set[bytes] = set()
    for row in chunks.to_pylist():
        by_codec = mix.setdefault(row["column"], {})
        by_codec[row["codec"]] = by_codec.get(row["codec"], 0) + 1
        payload += len(row["payload"])
        sketch += sum(len(row[k]) for k in ("bloom", "hll", "qsketch") if row[k])
        if row["codec"] == "str_fsst":
            n_fsst += 1
            params = json.loads(row["params"])
            fsst_tables.add(_split_sections(params, row["payload"])[0])
    walls = pq.read_table(os.path.join(store, "manifest")).column("wall_sec").to_pylist()
    return {
        "files": len(paths),
        "store_bytes": store_bytes,
        "payload_frac": payload / store_bytes,
        "sketch_bytes_per_raw_byte": sketch / raw_bytes,
        "mix": {c: {k: v / sum(m.values()) for k, v in m.items()} for c, m in mix.items()},
        "table_reuse": n_fsst / len(fsst_tables) if fsst_tables else 0.0,
        "partition_wall_skew": max(walls) / statistics.median(walls),
    }
