"""Seeded input corpus and the oracle that checks the engine's outputs.

The corpus is ``fsst_spark.synth.webcorpus`` rows written as parquet
files, cached per (seed, rows) under ``.perfbench_work/corpus``. The
oracle never touches fsst_spark: it reads the source parquet files with
plain Spark and keeps, per row, Spark ``xxhash64`` values of each column
and of the column groups the lookup queries return. Expected results are
then sums and counts over those hashes, compared with the same Spark
hashes computed over what the engine returns.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
# Column groups the lookup queries return (hash order matters).
GROUPS = {"all": COLUMNS, "url_ts": ["url", "warc_ts"], "url_lang_ts": ["url", "lang", "warc_ts"]}
N_FILES = 8
KEEP_CORPORA = 8  # cached (seed, rows) corpora kept, most recently used first


@dataclass
class Corpus:
    data_dir: str
    rows: int
    raw_bytes: int
    files: list[str]
    gen_s: float  # generation time, recorded when the corpus was made
    keys: dict[str, list]  # url, lang, ts (micros): lookup parameters


def raw_bytes_of(table: pa.Table) -> int:
    """Logical value bytes: string/binary lengths plus 8 per timestamp."""
    total = 0
    for col in table.columns:
        if pa.types.is_timestamp(col.type):
            total += 8 * (len(col) - col.null_count)
        else:
            total += int(pc.sum(pc.binary_length(col)).as_py() or 0)
    return total


def ensure_corpus(work: str, seed: int, rows: int) -> Corpus:
    """Generate (or reuse) the corpus for (seed, rows) as N_FILES parquet files."""
    from fsst_spark.synth.webcorpus import generate_batch

    base = os.path.join(work, "corpus", f"seed{seed}-rows{rows}")
    data_dir = os.path.join(base, "data")
    marker = os.path.join(base, "_SUCCESS")
    if not os.path.exists(marker):
        t0 = time.perf_counter()
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(data_dir)
        bounds = np.linspace(0, rows, N_FILES + 1).astype(np.int64)
        for i in range(N_FILES):
            batch = generate_batch(np.arange(bounds[i], bounds[i + 1]), seed=seed)
            pq.write_table(pa.Table.from_batches([batch]),
                           os.path.join(data_dir, f"part-{i:03d}.parquet"))
        with open(marker, "w") as f:
            f.write(str(time.perf_counter() - t0))
    with open(marker) as f:
        gen_s = float(f.read())
    os.utime(marker)
    _evict(os.path.dirname(base))
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    table = pq.read_table(data_dir)
    keys = {"url": table.column("url").to_pylist(),
            "lang": table.column("lang").to_pylist(),
            "ts": table.column("warc_ts").cast(pa.int64()).to_pylist()}
    return Corpus(data_dir, rows, raw_bytes_of(table), files, gen_s, keys)


def _evict(cache: str) -> None:
    """Drop all but the KEEP_CORPORA most recently used cached corpora."""
    def last_used(d):
        try:
            return os.path.getmtime(os.path.join(cache, d, "_SUCCESS"))
        except OSError:
            return 0.0

    for d in sorted(os.listdir(cache), key=last_used, reverse=True)[KEEP_CORPORA:]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


class Oracle:
    """Expected results computed from the source files with plain Spark."""

    def __init__(self, table: pa.Table):
        self.rows = table.num_rows
        self.url = table.column("url").to_numpy(zero_copy_only=False)
        self.lang = table.column("lang").to_numpy(zero_copy_only=False)
        self.ts = table.column("ts").to_numpy()
        self.hashes = {name: table.column(f"h_{name}").to_numpy()
                       for name in [*COLUMNS, *GROUPS]}
        self.all_hashes = set(self.hashes["all"].tolist())

    @classmethod
    def build(cls, spark, corpus: Corpus) -> "Oracle":
        path = os.path.join(os.path.dirname(corpus.data_dir),
                            f"oracle-{'-'.join(GROUPS)}.parquet")
        if not os.path.exists(path):
            from pyspark.sql import functions as F

            src = spark.read.parquet(corpus.data_dir)
            cols = [F.col("url"), F.col("lang"),
                    F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("ts")]
            cols += [F.xxhash64(c).alias(f"h_{c}") for c in COLUMNS]
            cols += [F.xxhash64(*g).alias(f"h_{name}") for name, g in GROUPS.items()]
            tmp = path + ".tmp"
            pq.write_table(src.select(*cols).toArrow(), tmp)
            os.replace(tmp, path)
        return cls(pq.read_table(path))

    @staticmethod
    def fingerprint_of(hashes: np.ndarray) -> tuple[int, int]:
        return len(hashes), sum(hashes.tolist())

    def table_fingerprint(self) -> dict:
        """Per column: (count, sum of xxhash64), as ``fingerprint`` returns."""
        return {c: self.fingerprint_of(self.hashes[c]) for c in COLUMNS}

    def query(self, mask: np.ndarray, group: str) -> tuple[int, int]:
        return self.fingerprint_of(self.hashes[group][mask])


def fingerprint(df, columns: list[str]) -> dict:
    """Per column of ``df``: (non-null count, exact sum of xxhash64)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in columns:
        aggs += [F.count(c).alias(f"n_{c}"),
                 F.sum(F.xxhash64(c).cast("decimal(38,0)")).alias(f"s_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: (int(row[f"n_{c}"]), int(row[f"s_{c}"] or 0)) for c in columns}


def group_fingerprint(df, group: str) -> tuple[int, int]:
    """(rows, exact sum of the row-group xxhash64) of a query result."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*GROUPS[group]).cast("decimal(38,0)")).alias("s")
                 ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)
