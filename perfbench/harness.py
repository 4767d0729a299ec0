"""Run one workload end to end and compute its metrics.

Order of a run: corpus (cached per seed and size; not part of set-up),
session start, the workload's set-up and one untimed warm-up repetition
(together ``setup_s``), the timed closed loop for ``seconds``, the
oracle, in a traced run the per-layer probes, and last the checks of
every op's result against the oracle.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from .corpus import COLUMNS, Oracle, ensure_corpus
from .trace import SparkRest, Tracer, inspect_store, replay
from .workloads import QUERY_TYPES, WORKLOADS, Run, Sample

ROWS = 12_000
MIX = {"url": ["str_front", "str_fsst", "str_dict", "str_plain"],
       "html": ["str_fsst", "str_plain"],
       "text": ["str_fsst", "str_plain"],
       "lang": ["str_dict", "str_fsst"],
       "warc_ts": ["int_for", "int_delta", "int_rle", "int_plain"]}


def tail(walls: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it, or None with fewer than eleven samples."""
    n = len(walls)
    if n < 11:
        return None
    k = n - 10
    return sorted(walls)[k - 1], 100.0 * k / n, n


def worker_peak_rss_mb(jvm_pid: int) -> float:
    """Largest VmHWM among the Python worker processes under the JVM."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    peak = 0
    for pid in parent:
        p = pid
        while p in parent and p != jvm_pid:
            p = parent[p]
        if p != jvm_pid or pid == jvm_pid:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    if not peak:
        raise RuntimeError("no live Python worker under the Spark JVM")
    return peak / 1024


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def start_session(name: str):
    from fsst_spark.jobs.session import get_spark

    spark = get_spark(app_name=f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it: its stdin pipe closing
    is what makes the gateway exit, taking the Python workers with it."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=120)


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str,
                 cores: int, rows: int = ROWS, spark=None) -> dict:
    """Run one workload; returns end-to-end and (traced) per-layer figures.

    Starts and stops its own Spark session unless ``spark`` is given, in
    which case ``setup_s`` leaves session start out."""
    corpus = ensure_corpus(work, seed, rows)
    tracer = Tracer(f"{name}-seed{seed}-{int(time.time())}", enabled=trace)
    own_session = spark is None
    with tracer.span("run", workload=name, seed=seed):
        t0 = time.perf_counter()
        if own_session:
            with tracer.span("session start"):
                spark = start_session(name)
        try:
            run = Run(spark, corpus, os.path.join(work, "stores"), tracer, seed)
            wl = WORKLOADS[name](run)
            with tracer.span("setup"):
                wl.setup()
                # one untimed repetition: cold workers, JIT and caches
                run.phase = "warmup"
                with tracer.span("warm-up repetition"):
                    wl.step()
            setup_s = time.perf_counter() - t0
            reps = 0
            t_loop, cpu0 = time.perf_counter(), host_cpu_jiffies()
            with tracer.span("timed loop"):
                # Stop before a repetition that would end past ``seconds``,
                # so a slow phase of the host costs fewer repetitions,
                # not a longer run.
                while reps < wl.min_reps or (
                        time.perf_counter() - t_loop
                        + statistics.median(wl.rep_walls()) <= seconds):
                    run.phase, run.rep = "loop", reps
                    wl.step()
                    reps += 1
                run.phase, run.rep = "probe", -1
            cpu1 = host_cpu_jiffies()
            # Share of the host's CPU time taken by other guests during the
            # loop, which tracks run-to-run drift on a shared VM.
            steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
            rss = worker_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
            run.oracle = run.untimed("oracle", lambda: Oracle.build(spark, corpus))
            layers = None
            if trace:
                t_probe, recording_s = time.perf_counter(), tracer.cost_s
                layers = _per_layer(run, wl, cores)
                # What tracing adds to a run: span recording, plus the
                # probes after the loop, which an untraced run skips.
                extra = recording_s + time.perf_counter() - t_probe
                layers["trace.overhead_frac"] = extra / (
                    time.perf_counter() - t0 - extra)
            run.check_pending()
        finally:
            if own_session:
                stop_session(spark)
    if trace:
        tracer.write(os.path.join(work, "traces", f"{tracer.run_id}.json"))
    return _end_to_end(run, wl, setup_s, rss, corpus.raw_bytes, steal) | {
        "per_layer": layers, "tracer": tracer}


def _end_to_end(run: Run, wl, setup_s: float, rss: float, raw: int,
                steal: float) -> dict:
    samples = run.samples
    loop = wl.loop_samples()
    p50 = statistics.median(wl.rep_walls())
    store_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(wl.store) for f in fs)
    failed = sum(not s.ok for s in samples)
    named = {}  # the workload's own names for its figures, printed only
    if wl.name == "ingest_scan":
        for layer in ("encode", "decode", "verify"):
            named[f"{layer}_mb_s"] = (
                raw / 1e6 / statistics.median(s.wall for s in loop if s.layer == layer),
                "MB/s")
    else:
        walls = [s.wall for s in loop]
        named["lookup_p50_s"] = (statistics.median(walls), "s")
        t = tail(walls)
        named["lookup_tail_s"] = ((t[0], "s", f"p{t[1]:.0f} of n={t[2]}") if t
                                  else (None, "s", f"n={len(walls)} < 11 samples"))
    named["error_rate"] = (failed / len(samples), "ratio")
    named["host_steal_frac"] = (steal, "ratio", "during the timed loop")
    return {
        "attempted": len(samples), "failed": failed,
        "end_to_end": {"setup_s": setup_s, "rep_p50_s": p50,
                       "store_bytes_per_raw_byte": store_bytes / raw,
                       "py_worker_peak_rss_mb": rss},
        "named": named, "samples": len(loop), "rep_walls": wl.rep_walls(),
        "op_p50s": {label: statistics.median(s.wall for s in loop if s.label == label)
                    for label in dict.fromkeys(s.label for s in loop)},
    }


LAYERS = ("encode", "encode_skewed", "decode", "verify", "lookup", "stats")
#: probe figures of the other workload, reported as 0 (layer idle)
PROBE_KEYS = ("skewed.encode_s", "skewed.partition_wall_skew",
              "skewed.store_bytes_per_raw_byte", "lookup.plan_s",
              "lookup.scan_fraction", "lookup.chunks_kept",
              "lookup.rows_returned_per_row_decoded")


def _per_layer(run: Run, wl, cores: int) -> dict:
    """Per-layer figures of a traced run (0 where a layer idled in the loop)."""
    import pyarrow.parquet as pq
    from fsst_spark.kernel.native import get_lib

    corpus = run.corpus
    m = dict.fromkeys(PROBE_KEYS, 0.0)
    m.update(wl.probe())
    samples, loop = run.samples, wl.loop_samples()
    m["synth.gen_s"] = corpus.gen_s
    t0 = time.perf_counter()
    with run.tracer.span("read parquet"):
        pq.read_table(corpus.data_dir)
    m["read.parquet_mb_s"] = corpus.raw_bytes / 1e6 / (time.perf_counter() - t0)

    rest = SparkRest(run.sc)
    jobs = rest.jobs()
    SparkRest.add_job_spans(run.tracer, jobs)
    by_layer = {layer: rest.layer_metrics(jobs, layer) for layer in LAYERS}

    def ops(layer):
        return [s for s in loop if s.layer == layer]

    def per_op(layer, key):
        n = len([s for s in samples if s.layer == layer and s.phase != "warmup"])
        return by_layer[layer][key] / n if n else 0.0

    def busy(layer):
        wall = sum(s.wall for s in ops(layer))
        return by_layer[layer]["task_s"] / (wall * cores) if wall else 0.0

    t0 = time.perf_counter()
    with run.tracer.span("kernel replay", layer="replay"):
        rep, ok = replay(pq.read_table(corpus.files[0]))
    samples.append(Sample("replay", "kernel replay", time.perf_counter() - t0,
                          ok, "probe", -1))
    if not ok:
        print("FAILED op kernel replay (replay): round trip not exact", file=sys.stderr)
    with run.tracer.span("store inspection"):
        st = inspect_store(wl.store, corpus.raw_bytes)

    for key, src in (("tasks", "tasks"), ("task_s_sum", "task_s"),
                     ("sched_delay_s", "sched_delay_s"), ("gc_s", "gc_s"),
                     ("shuffle_write_mb", "shuffle_write_mb")):
        m[f"encode.{key}"] = per_op("encode", src)
    m["encode.tasks_failed"] = (by_layer["encode"]["tasks_failed"]
                                + by_layer["encode_skewed"]["tasks_failed"])
    # the file-granular path has no shuffle: fetch wait is the grouped path's
    m["encode.shuffle_fetch_wait_s"] = per_op("encode_skewed", "shuffle_fetch_wait_s")
    m["skewed.shuffle_write_mb"] = per_op("encode_skewed", "shuffle_write_mb")
    m["encode.core_busy_frac"] = busy("encode")
    m["encode.partition_wall_skew"] = st["partition_wall_skew"]
    single_core_mb_s = (corpus.raw_bytes / len(corpus.files) / 1e6
                        / rep["partition_s"])
    enc = ops("encode")
    m["encode.parallel_eff"] = (
        corpus.raw_bytes / 1e6 / _median(s.wall for s in enc)
        / (cores * single_core_mb_s) if enc else 0.0)

    m["codecs.stats_s"] = rep["stats_s"]
    m["codecs.checksum_s"] = rep["checksum_s"]
    for c in COLUMNS:
        m[f"codecs.encode_column_s.{c}"] = rep[f"encode_column_s.{c}"]
        m[f"codecs.decode_column_s.{c}"] = rep[f"decode_column_s.{c}"]
        m[f"codecs.payload_ratio.{c}"] = rep[f"payload_ratio.{c}"]
    for c, codecs in MIX.items():
        for k in codecs:
            m[f"codecs.mix.{c}.{k}"] = st["mix"].get(c, {}).get(k, 0.0)

    for k in ("train_ms", "encode_mb_s_1core", "decode_mb_s_1core", "escape_frac"):
        m[f"fsst.{k}"] = rep[f"fsst.{k}"]
    m["fsst.table_reuse"] = st["table_reuse"]
    m["native.loaded"] = float(get_lib() is not None)
    m["sketch.build_s"] = rep["sketch_s"]
    m["sketch.bytes_per_raw_byte"] = st["sketch_bytes_per_raw_byte"]
    m["store.files"] = st["files"]
    m["store.payload_frac"] = st["payload_frac"]

    queries = ops("lookup") + ops("stats")
    n_q = len(queries)
    m["lookup.spark_jobs_per_query"] = (
        (by_layer["lookup"]["jobs"] + by_layer["stats"]["jobs"]) / n_q if n_q else 0.0)
    m["lookup.tasks_per_query"] = (
        (by_layer["lookup"]["tasks"] + by_layer["stats"]["tasks"]) / n_q if n_q else 0.0)
    for t in QUERY_TYPES[:-1]:
        m[f"lookup.p50_s.{t}"] = _median(s.wall for s in queries if s.label == t)
    m["stats.query_s"] = _median(s.wall for s in ops("stats"))

    m["decode.core_busy_frac"] = busy("decode")
    m["decode.task_s_sum"] = per_op("decode", "task_s")
    m["verify.task_s_sum"] = per_op("verify", "task_s")
    return m
