"""The pruned chunk-file reader every store read goes through: file order,
the per-file pruner, and filter-column handling of the selective decode."""

import datetime as dt
import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import (
    _file_survivors,
    chunk_files,
    column_arrow_types,
    decode_filtered,
)
from fsst_spark.jobs.encode import encode_job


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("reader") / "store")
    df = (spark.range(0, 6000).withColumnRenamed("id", "doc_id")
          .withColumn("url", F.concat(F.lit("https://h"),
                                      (F.col("doc_id") % 97).cast("string"),
                                      F.lit("/p"), F.col("doc_id")))
          .withColumn("warc_ts", F.timestamp_seconds(
              F.lit(1_700_000_000) + F.col("doc_id") * 60)))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "250")
    try:
        encode_job(spark, df, out, num_partitions=3, chunk_bytes=4 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    return out, df


def test_filter_column_outside_columns_selected_once(spark, store):
    out, df = store
    lo = dt.datetime(2023, 11, 15, 0, 0, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2023, 11, 15, 6, 0, tzinfo=dt.timezone.utc)
    got = decode_filtered(spark, out, columns=["url"],
                          filters=[("warc_ts", ">=", lo), ("warc_ts", "<", hi)])
    assert set(got.columns) - {"pid", "chunk_id"} == {"url"}
    want = (df.where((F.col("warc_ts") >= F.lit(lo))
                     & (F.col("warc_ts") < F.lit(hi))).select("url"))
    rows = sorted(r["url"] for r in got.select("url").collect())
    assert rows == sorted(r["url"] for r in want.collect())
    assert 0 < len(rows) < 6000


def test_zone_only_pruning_reads_no_payload(spark, store, tmp_path):
    """A zone-only filter is answered from the narrow metadata columns: the
    pruner returns the same survivors on a copy of the file that has no
    payload column at all."""
    out, _ = store
    types = column_arrow_types(spark, out)
    path = chunk_files(out)[0]
    flt = [("doc_id", ">=", 1000)]
    want = _file_survivors(path, flt, types)
    t = pq.read_table(path)
    assert len({(p, c) for p, c in zip(t.column("pid").to_pylist(),
                                       t.column("chunk_id").to_pylist())}) \
        > len(want) > 0
    bare = str(tmp_path / "part-00000.parquet")
    pq.write_table(t.drop_columns(["payload"]), bare)
    assert _file_survivors(bare, flt, types) == want


def test_chunk_files_ordered_by_pid(tmp_path):
    chunks = tmp_path / "chunks"
    chunks.mkdir()
    for name in ("part-100000.parquet", "part-99999.parquet",
                 "part-00007.parquet", "part-00001.parquet.tmp-1a2b"):
        (chunks / name).write_bytes(b"")
    lexical = [os.path.basename(p)
               for p in sorted(glob.glob(str(chunks / "*.parquet")))]
    assert lexical[1:] == ["part-100000.parquet", "part-99999.parquet"]
    got = [os.path.basename(p) for p in chunk_files(str(tmp_path))]
    assert got == ["part-00007.parquet", "part-99999.parquet",
                   "part-100000.parquet"]
    assert [os.path.basename(p) for p in
            chunk_files(str(tmp_path), pids=[100000, 7])] == \
        ["part-00007.parquet", "part-100000.parquet"]
