"""Ordered decode: every decode comes out in global (pid, chunk_id, row)
order — one task per chunk file, files in pid order — with no row-level
sort anywhere in the plan.

On a store clustered by sort_key the output is cluster-key order, so the
tests pin: collected rows arrive exactly sorted, content is identical to
a plain collect, and the physical plan contains no Sort over the decoded
rows.
"""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_job
from fsst_spark.jobs.encode import encode_job


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ord") / "store")
    df = (spark.range(0, 12000).withColumnRenamed("id", "doc_id")
          .withColumn("txt", F.concat(F.lit("b-"), F.col("doc_id"))))
    # shuffle the input so clustering is the encode's doing, not luck
    encode_job(spark, df.orderBy(F.md5(F.col("doc_id").cast("string"))),
               out, num_partitions=8, chunk_bytes=8 << 10,
               resume=False, unique_col="doc_id",
               sort_key="doc_id").collect()
    return out


def test_ordered_decode_is_globally_sorted(spark, store):
    got = decode_job(spark, store)
    ids = [r["doc_id"] for r in got.collect()]  # partition-concat order
    assert ids == sorted(ids)
    assert len(ids) == 12000
    # content identical to the decode's own rows
    assert sorted(r["txt"] for r in got.select("txt").collect()) == \
        sorted(f"b-{i}" for i in range(12000))


def test_no_row_level_sort_in_plan(spark, store):
    plan = decode_job(spark, store) \
        ._jdf.queryExecution().executedPlan().toString()
    # no sort may consume the decoded output (it would be a row-scale
    # shuffle at 100TB)
    decode_op = "MapInArrow"
    assert decode_op in plan
    above_decode = plan.split(decode_op)[0]
    assert "Sort" not in above_decode, above_decode


def test_cli_ordered_export(spark, store, tmp_path):
    out = str(tmp_path / "sorted")
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store, "--out", out],
        capture_output=True, text=True, timeout=600, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb
    # parquet part files concatenate in name order == partition order:
    # the exported dataset is globally sorted on disk
    ids = [x[0] for x in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{out}/part-*.parquet', "
        "filename=false)").fetchall()]
    assert ids == sorted(ids) and len(ids) == 12000
    # a --where export keeps the same order
    where_out = str(tmp_path / "sorted_where")
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store, "--where", "doc_id:<:5000", "--out", where_out],
        capture_output=True, text=True, timeout=600, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    ids = [x[0] for x in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{where_out}/part-*.parquet', "
        "filename=false)").fetchall()]
    assert ids == list(range(5000))
