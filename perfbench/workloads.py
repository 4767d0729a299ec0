"""The workloads: set-up, the timed closed loop, and output checks.

One client drives every workload, closed loop: the next operation starts
when the previous one has returned. Each operation is timed from outside
(a call into the engine's public job functions, including the Spark
action that makes it run); its result is checked against the oracle
after the timed loop. An operation that raises or returns a wrong result
counts as failed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from .corpus import COLUMNS, GROUPS, Corpus, Oracle, fingerprint, group_fingerprint
from .trace import Tracer, inspect_store


@dataclass
class Sample:
    layer: str  # encode | encode_skewed | decode | verify | lookup | stats | replay
    label: str  # op name (lookup: query type)
    wall: float
    ok: bool
    phase: str  # warmup | loop | probe
    rep: int  # timed-loop repetition, -1 outside the loop


@dataclass
class Run:
    spark: object
    corpus: Corpus
    work: str
    tracer: Tracer
    seed: int
    samples: list[Sample] = field(default_factory=list)
    oracle: Oracle | None = None  # built after the timed loop
    pending: list = field(default_factory=list)  # (sample, check, result)
    phase: str = "probe"  # warmup (part of set-up) | loop (timed) | probe
    rep: int = -1  # timed-loop repetition in progress, -1 outside the loop

    @property
    def sc(self):
        return self.spark.sparkContext

    def op(self, layer: str, label: str, fn, check) -> None:
        """Run ``fn`` as one timed operation; ``check(result)`` runs later.

        The op's Spark jobs run under the job group ``pb.<layer>.<index>``
        (``pb.warmup.<index>`` while warming up). Checks wait for
        ``check_pending``, so that building the oracle perturbs neither
        set-up nor the timed loop."""
        kind = "warmup" if self.phase == "warmup" else layer
        group = f"pb.{kind}.{len(self.samples)}"
        self.sc.setJobGroup(group, label)
        with self.tracer.span(label, layer=layer, group=group):
            t0 = time.perf_counter()
            try:
                result = fn()
                raised = False
            except Exception:
                traceback.print_exc()
                raised = True
            wall = time.perf_counter() - t0
        sample = Sample(layer, label, wall, not raised, self.phase, self.rep)
        self.samples.append(sample)
        if raised:
            print(f"FAILED op {label} ({layer}): raised", file=sys.stderr)
        else:
            self.pending.append((sample, check, result))

    def check_pending(self) -> None:
        """Check every op result not yet checked against the oracle."""
        for sample, check, result in self.pending:
            try:
                ok = bool(check(result))
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                sample.ok = False
                print(f"FAILED op {sample.label} ({sample.layer}): wrong result",
                      file=sys.stderr)
        self.pending.clear()

    def untimed(self, label: str, fn):
        self.sc.setJobGroup("pb.setup", label)
        with self.tracer.span(label, layer="setup"):
            return fn()

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def _manifest_ok(rows, corpus: Corpus, n_parts: int | None) -> bool:
    if n_parts is not None and len(rows) != n_parts:
        return False
    return (all(r["status"] == "done" for r in rows)
            and sum(r["n_rows"] for r in rows) == corpus.rows)


class Workload:
    name = ""
    min_reps = 1
    #: the store the run's size and layout metrics describe
    store: str = ""

    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        """What a run builds before its warm-up repetition."""

    def step(self) -> None:
        """One repetition of the timed loop."""

    def probe(self) -> dict:
        """Extra per-layer figures of a traced run, measured after the loop."""
        return {}

    def loop_samples(self) -> list[Sample]:
        return [s for s in self.run.samples if s.phase == "loop"]

    def rep_walls(self) -> list[float]:
        """Wall of each timed-loop repetition: the sum of its ops."""
        reps: dict[int, float] = {}
        for s in self.loop_samples():
            reps[s.rep] = reps.get(s.rep, 0.0) + s.wall
        return list(reps.values())


def _encode_files(run: Run, store: str) -> list:
    from fsst_spark.jobs.encode import encode_files_job

    return encode_files_job(run.spark, run.corpus.data_dir, store, resume=False).collect()


class IngestScan(Workload):
    """Write path, then a full read-back of what was written.

    One rep: ``encode_files_job`` over the parquet files, a full
    ``decode_job`` of the new store into a fingerprint aggregate, and
    ``roundtrip_summary`` chunk verification of the same store."""

    name = "ingest_scan"
    # The first timed repetition still runs 5-20% slower than the next
    # ones, so the median of three is a warm one.
    min_reps = 3

    def step(self) -> None:
        run = self.run
        self.store = run.fresh_dir("ingest-store")
        n_files = len(run.corpus.files)
        run.op("encode", "encode_files_job", lambda: _encode_files(run, self.store),
               lambda rows: _manifest_ok(rows, run.corpus, n_files))
        self.scan(self.store)

    def scan(self, store: str) -> None:
        """Decode ``store`` in full and verify its chunks, as two ops."""
        from fsst_spark.jobs.decode import decode_job
        from fsst_spark.jobs.verify import roundtrip_summary

        run = self.run
        run.op("decode", "decode_job", lambda: fingerprint(
            decode_job(run.spark, store).select(*COLUMNS), COLUMNS),
            lambda got: got == run.oracle.table_fingerprint())

        def verified(rows) -> bool:
            return (sorted(r["column"] for r in rows) == sorted(COLUMNS)
                    and all(r["all_ok"] and r["n_rows"] == run.corpus.rows
                            for r in rows))

        run.op("verify", "roundtrip_summary",
               lambda: roundtrip_summary(run.spark, store).collect(), verified)

    def probe(self) -> dict:
        """One ``encode_job`` grouped by the Zipf-skewed ``lang`` column:
        salting, the shuffle and the JVM->Arrow hop (traced runs only)."""
        from fsst_spark.jobs.encode import encode_job

        run = self.run
        store = run.fresh_dir("skewed-store")

        def job():
            df = run.spark.read.parquet(run.corpus.data_dir)
            return encode_job(run.spark, df, store, group_cols=["lang"],
                              resume=False).collect()

        run.op("encode_skewed", "encode_job[group_cols=lang]", job,
               lambda rows: _manifest_ok(rows, run.corpus, None))
        if not run.samples[-1].ok:
            return {}
        st = inspect_store(store, run.corpus.raw_bytes)
        return {"skewed.encode_s": run.samples[-1].wall,
                "skewed.partition_wall_skew": st["partition_wall_skew"],
                "skewed.store_bytes_per_raw_byte": st["store_bytes"] / run.corpus.raw_bytes}


QUERY_TYPES = ["url_eq", "lang_eq", "ts_window", "head", "stats"]
HEAD_ROWS = 20
TS_WINDOW_US = 3600 * 10**6
LOOKUP_PARTITIONS = 16


class Lookup(Workload):
    """A seeded mix of selective reads against a store clustered by
    ``url_sort_key``: one step issues each query type once."""

    name = "lookup"

    def setup(self) -> None:
        from fsst_spark.jobs.encode import encode_job
        from fsst_spark.pipeline.textstats import url_sort_key
        from pyspark.sql import functions as F

        run = self.run
        self.store = run.fresh_dir("lookup-store")

        def build():
            df = run.spark.read.parquet(run.corpus.data_dir)
            return encode_job(run.spark, df, self.store,
                              sort_key=url_sort_key(F.col("url")),
                              num_partitions=LOOKUP_PARTITIONS, resume=False).collect()

        run.untimed("build clustered store", build)
        self.rng = np.random.default_rng(run.seed)

    def draw(self, key: str):
        """A value of column ``key`` from a seeded random corpus row."""
        values = self.run.corpus.keys[key]
        return values[self.rng.integers(len(values))]

    def step(self) -> None:
        from fsst_spark.jobs.decode import decode_filtered, decode_head
        from fsst_spark.jobs.stats import encoded_column_stats
        from pyspark.sql import functions as F

        run, store, spark = self.run, self.store, self.run.spark

        def expect(mask_of, group):
            return lambda got: got == run.oracle.query(mask_of(run.oracle), group)

        url = self.draw("url")
        run.op("lookup", "url_eq", lambda: group_fingerprint(
            decode_filtered(spark, store, "url", "==", url), "all"),
            expect(lambda o: o.url == url, "all"))

        langs = sorted(set(run.corpus.keys["lang"]))
        lang = langs[self.rng.integers(len(langs))]
        run.op("lookup", "lang_eq", lambda: group_fingerprint(
            decode_filtered(spark, store, "lang", "==", lang,
                            columns=GROUPS["url_ts"]), "url_ts"),
            expect(lambda o: o.lang == lang, "url_ts"))

        lo = self.draw("ts")
        hi = lo + TS_WINDOW_US
        run.op("lookup", "ts_window", lambda: group_fingerprint(
            decode_filtered(spark, store, columns=GROUPS["url_lang_ts"],
                            filters=[("warc_ts", ">=", lo), ("warc_ts", "<", hi)]),
            "url_lang_ts"), expect(lambda o: (o.ts >= lo) & (o.ts < hi), "url_lang_ts"))

        run.op("lookup", "head", lambda: [r[0] for r in decode_head(
            spark, store, HEAD_ROWS).select(F.xxhash64(*COLUMNS)).collect()],
            lambda got: len(got) == HEAD_ROWS and set(got) <= run.oracle.all_hashes)

        def stats_ok(rows) -> bool:
            (r,), o = rows, run.oracle
            return (r["n_rows"] == o.rows and r["min_long"] == int(o.ts.min())
                    and r["max_long"] == int(o.ts.max()))

        run.op("stats", "stats", lambda: encoded_column_stats(
            spark, store, ["warc_ts"]).collect(), stats_ok)

    def probe(self) -> dict:
        """``decode_plan`` for one seeded point lookup (traced runs only)."""
        from fsst_spark.jobs.decode import decode_plan

        run, o = self.run, self.run.oracle
        url = self.draw("url")
        t0 = time.perf_counter()
        plan = run.untimed("decode_plan", lambda: decode_plan(
            run.spark, self.store, filters=[("url", "==", url)]))
        rows_returned = int((o.url == url).sum())
        return {"lookup.plan_s": time.perf_counter() - t0,
                "lookup.scan_fraction": plan["scan_fraction"],
                "lookup.chunks_kept": plan["chunks_kept"],
                "lookup.rows_returned_per_row_decoded":
                    rows_returned / plan["rows_bound"] if plan["rows_bound"] else 0.0}


WORKLOADS = {w.name: w for w in (IngestScan, Lookup)}
