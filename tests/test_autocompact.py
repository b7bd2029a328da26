"""Auto-compaction in the guarded stream skeleton (r11 — the stream
throughput probe's file-accretion remedy turned into code): every
bucketed append lays down n_buckets more files, and a body whose
candidate join reads the index drifts ~0.7 s/epoch without compaction
(SCALING.md r11). ``compact_every=N`` folds the index back to one file
per bucket every N completed epochs, under the stream's own lease.
Pinned here: results are IDENTICAL with and without auto-compaction
(compaction preserves content), the fold actually happens (file counts
drop), and the since-compact counter rides the ledger."""

from __future__ import annotations

import pytest

#: slow tier (r12): long-run compaction campaigns; compaction semantics stay covered by test_compact_index.py + test_maintenance.py
pytestmark = pytest.mark.slow

import glob
import os

from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import incremental
from basic_data_pipeline_spark.operators import incremental_retrieval as IR
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.streaming import dedup_stream

SF_DIR = "/root/testdata/sf0.001"


def _files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "*.parquet")))


def _batches(docs, n):
    lo = docs.agg(F.min("doc_id")).first()[0]
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    step = (hi - lo + n - 1) // n
    return [
        docs.filter(
            (F.col("doc_id") >= lo + i * step)
            & (F.col("doc_id") < lo + (i + 1) * step)
        )
        for i in range(n)
    ]


def test_dedup_stream_autocompact_same_results_fewer_files(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.filter(F.col("doc_id") < 100)
    rest = _batches(docs.filter(F.col("doc_id") >= 100), 5)

    idx_a = str(tmp_path / "a")
    idx_b = str(tmp_path / "b")
    incremental.build_index(spark, base, idx_a)
    incremental.build_index(spark, base, idx_b)
    fn_a = dedup_stream.make_dedup_batch_fn(idx_a, str(tmp_path / "oa"))
    fn_b = dedup_stream.make_dedup_batch_fn(
        idx_b, str(tmp_path / "ob"), compact_every=2
    )
    for e, b in enumerate(rest):
        fn_a(b, e)
        fn_b(b, e)

    got_a = {
        r["doc_id"]
        for r in spark.read.parquet(f"{tmp_path}/oa/epoch=*").collect()
    }
    got_b = {
        r["doc_id"]
        for r in spark.read.parquet(f"{tmp_path}/ob/epoch=*").collect()
    }
    assert got_a == got_b and got_b  # identical survivors per epoch
    # the fold happened: 5 appends accreted files on A; B's last compact
    # was after epoch 3 (counter 2), so at most 1 append's files ride on
    # top of one-file-per-bucket
    assert _files(f"{idx_b}/bands") < _files(f"{idx_a}/bands")
    ledger = indexspec.read_ledger(idx_b)
    assert ledger["stream"]["since_compact"] == 1  # 5 epochs, reset at 2,4
    # stop both streams (release their leases) before batch mutators
    from basic_data_pipeline_spark.streaming import swapstore

    swapstore.release_writer(fn_a)
    swapstore.release_writer(fn_b)
    # and the compacted index serves the next batch identically
    nxt = docs.filter(F.col("doc_id") < 100)  # all dups of the base
    sa = incremental.incremental_dedup(
        spark, nxt.withColumn("doc_id", F.col("doc_id") + 10_000_000),
        idx_a, update_index=False,
    )
    sb = incremental.incremental_dedup(
        spark, nxt.withColumn("doc_id", F.col("doc_id") + 10_000_000),
        idx_b, update_index=False,
    )
    assert (
        {r["doc_id"] for r in sa.collect()}
        == {r["doc_id"] for r in sb.collect()}
    )


def test_retrieval_stream_autocompact_search_identical(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.filter(F.col("doc_id") < 100)
    rest = _batches(docs.filter(F.col("doc_id") >= 100), 4)

    idx_a = str(tmp_path / "a")
    idx_b = str(tmp_path / "b")
    IR.build_retrieval_index(spark, base, idx_a)
    IR.build_retrieval_index(spark, base, idx_b)
    fn_a = dedup_stream.make_retrieval_batch_fn(idx_a, str(tmp_path / "oa"))
    fn_b = dedup_stream.make_retrieval_batch_fn(
        idx_b, str(tmp_path / "ob"), compact_every=2
    )
    for e, b in enumerate(rest):
        fn_a(b, e)
        fn_b(b, e)

    queries = docs.filter(F.col("doc_id") < 6).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    ra = IR.search_retrieval_index(
        spark, queries, idx_a, k=3,
        query_id_col="query_id", query_text_col="qtext",
    )
    rb = IR.search_retrieval_index(
        spark, queries, idx_b, k=3,
        query_id_col="query_id", query_text_col="qtext",
    )
    rows_a = sorted(tuple(r) for r in ra.collect())
    rows_b = sorted(tuple(r) for r in rb.collect())
    assert rows_a == rows_b and rows_a
    assert _files(f"{idx_b}/postings") < _files(f"{idx_a}/postings")
