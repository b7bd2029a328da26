"""Streaming incremental dedup: the foreachBatch body must (a) match the
batch operator's results across micro-batch boundaries, (b) drop full
epoch replays without touching the index (replayed appends would break
jaccard_verify's set semantics), and (c) refuse to run over an index a
mid-append crash may have corrupted. One test also drives the real
streaming engine end-to-end through the file source."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import incremental
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.streaming import dedup_stream

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _out_ids(spark, out_root):
    return {
        r["doc_id"]
        for r in spark.read.parquet(f"{out_root}/epoch=*").select("doc_id").collect()
    }


def test_stream_batches_match_batch_operator(spark, docs, tmp_path):
    idx_a = str(tmp_path / "idx_stream")
    idx_b = str(tmp_path / "idx_batch")
    out = str(tmp_path / "out")

    base = docs.filter(F.col("doc_id") < 150)
    incremental.build_index(spark, base, idx_a)
    incremental.build_index(spark, base, idx_b)

    b1 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    b2 = docs.filter(F.col("doc_id") >= 300)
    dedup_stream.run_dedup_batches(spark, [b1, b2], idx_a, out)

    expected = set()
    for b in (b1, b2):
        expected |= {
            r["doc_id"]
            for r in incremental.incremental_dedup(spark, b, idx_b).collect()
        }
    assert _out_ids(spark, out) == expected

    ledger = indexspec.read_ledger(idx_a)
    assert ledger["stream"]["last_epoch"] == 1
    assert ledger["stream"]["intent"] is None
    # the completed-epoch id watermark (rebuild anchor) tracks batch max
    assert ledger["stream"]["max_id"] == docs.agg(F.max("doc_id")).first()[0]


@pytest.mark.slow
def test_stream_releases_tracked_persists_per_epoch(spark, docs, tmp_path):
    """The guarded skeleton must release the body's tracked persists
    once an epoch completes — foreachBatch has no @query wrapper to do
    it, and without the release a long-lived stream caches frames
    without bound (the round-7 leak)."""
    from basic_data_pipeline_spark import caching

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    incremental.build_index(spark, docs.filter(F.col("doc_id") < 150), idx)
    caching.release_persisted()  # clean slate
    b1 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250))
    b2 = docs.filter(F.col("doc_id") >= 250)
    fn = dedup_stream.make_dedup_batch_fn(idx, out)
    for i, b in enumerate((b1, b2)):
        fn(b, i)
        assert caching._TRACKED == [], "epoch must end with zero tracked"


@pytest.mark.slow
def test_stream_replay_of_completed_epoch_is_dropped(spark, docs, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    incremental.build_index(spark, docs.filter(F.col("doc_id") < 150), idx)

    batch = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250))
    fn = dedup_stream.run_dedup_batches(spark, [batch], idx, out)

    ids_before = _out_ids(spark, out)
    index_rows = spark.read.parquet(f"{idx}/bands").count()

    # Spark redelivers the same epoch after a crash-after-commit: the
    # body must skip it — same survivors on disk, index NOT re-appended.
    fn(batch, 0)
    assert _out_ids(spark, out) == ids_before
    assert spark.read.parquet(f"{idx}/bands").count() == index_rows


def test_stream_detects_mid_append_crash(spark, docs, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    incremental.build_index(spark, docs.filter(F.col("doc_id") < 150), idx)
    # simulate a crash between index append and ledger advance
    dedup_stream._write_ledger(
        idx, {"stream": {"last_epoch": 3, "intent": 4}}
    )
    fn = dedup_stream.make_dedup_batch_fn(idx, out)
    with pytest.raises(dedup_stream.DirtyIndexError):
        fn(docs.filter(F.col("doc_id") >= 150), 4)


def test_throwing_epoch_releases_persists_and_names_rebuild_helper(
    spark, tmp_path
):
    """A body that throws mid-epoch still releases its tracked persists;
    the intent marker stays set, so the next epoch refuses with the
    family's exact rebuild helper."""
    from basic_data_pipeline_spark import caching
    from basic_data_pipeline_spark.streaming import swapstore

    class _Boom(RuntimeError):
        pass

    def body(batch_df, _epoch):
        caching.tracked_persist(batch_df).count()
        raise _Boom()

    idx = str(tmp_path / "idx")
    fn = dedup_stream.make_guarded_batch_fn(
        idx, str(tmp_path / "out"), body, incremental.SPEC
    )
    batch = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    try:
        with pytest.raises(_Boom):
            fn(batch, 0)
        assert caching._TRACKED == []
        assert indexspec.read_ledger(idx)["stream"]["intent"] == 0
        with pytest.raises(
            dedup_stream.DirtyIndexError,
            match=r"streaming\.rebuild\.rebuild_dedup_index\(",
        ):
            fn(batch, 1)
    finally:
        swapstore.release_writer(fn)


def test_stream_end_to_end_through_streaming_engine(spark, docs, tmp_path):
    """File-source → streaming engine → foreachBatch: a clone of an
    indexed doc arriving on the stream is dropped; a fresh doc survives."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = docs.filter(F.col("doc_id") < 100)
    incremental.build_index(spark, base, idx)

    clone_text = base.filter(F.col("doc_id") == 7).collect()[0]["text"]
    os.makedirs(src)
    with open(f"{src}/batch0.json", "w") as f:
        f.write(json.dumps({"doc_id": 900001, "text": clone_text}) + "\n")
        f.write(
            json.dumps(
                {
                    "doc_id": 900002,
                    "text": "utterly unique words never seen in the fixture corpus",
                }
            )
            + "\n"
        )

    q = dedup_stream.dedup_files(spark, src, idx, out, ckpt)
    q.awaitTermination(120)
    assert _out_ids(spark, out) == {900002}
