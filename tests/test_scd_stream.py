"""Streaming SCD2: stream-of-batches == one-shot fold, replay no-ops,
interrupted-swap recovery, and the real streaming engine end to end."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators.scd import scd2_apply
from basic_data_pipeline_spark.streaming import scd_stream, swapstore

SCHEMA = "id long, name string, city string, ts long, op string"

CHANGES = [
    (1, "ann", "rome", 1, "c"),
    (2, "bob", "oslo", 2, "c"),
    (1, "ann", "pisa", 5, "u"),
    (2, "bob", "oslo", 6, "u"),
    (1, None, None, 8, "d"),
    (1, "ann", "bern", 10, "c"),
    (3, "cal", "kiev", 11, "c"),
]


def _rows(df):
    return sorted(
        (
            r["id"],
            r["name"],
            r["city"],
            r["valid_from"],
            r["valid_to"],
            r["is_current"],
        )
        for r in df.collect()
    )


def _batches(spark, cuts=(5, 8)):
    lo = 0
    out = []
    for hi in (*cuts, 10**9):
        out.append(
            spark.createDataFrame(
                [c for c in CHANGES if lo < c[3] <= hi] or [],
                SCHEMA,
            )
        )
        lo = hi
    return out


def test_stream_of_batches_equals_oneshot(spark, tmp_path):
    hist = str(tmp_path / "hist")
    scd_stream.run_scd2_batches(spark, _batches(spark), hist, ["id"])
    got = _rows(spark.read.parquet(hist))
    want = _rows(scd2_apply(None, spark.createDataFrame(CHANGES, SCHEMA), ["id"]))
    assert got == want


def test_replay_is_noop_and_watermark_advances(spark, tmp_path):
    hist = str(tmp_path / "hist")
    fn = scd_stream.run_scd2_batches(spark, _batches(spark), hist, ["id"])
    before = _rows(spark.read.parquet(hist))
    # full replays of completed epochs (0..2) must change nothing
    for epoch, b in enumerate(_batches(spark)):
        fn(b, epoch)
    assert _rows(spark.read.parquet(hist)) == before
    # an empty batch advances only the watermark
    fn(spark.createDataFrame([], SCHEMA), 7)
    assert swapstore.read_watermark(hist, "stream", scd_stream._META) == 7
    assert _rows(spark.read.parquet(hist)) == before


def test_interrupted_swap_recovery(spark, tmp_path):
    hist = str(tmp_path / "hist")
    b1, b2, b3 = _batches(spark)
    fn = scd_stream.run_scd2_batches(spark, [b1], hist, ["id"])

    # crash BETWEEN rmtree and rename: move the live dir to the temp name
    tmp = swapstore.tmp_path(hist)
    os.rename(hist, tmp)
    fn(b2, 1)  # _recover must complete the swap, then apply epoch 1
    two = _rows(spark.read.parquet(hist))
    assert two == _rows(
        scd2_apply(
            scd2_apply(None, b1, ["id"]), b2, ["id"]
        )
    )

    # incomplete write NEXT TO a live history: temp must be discarded,
    # and the epoch re-applies from the authoritative old state
    os.makedirs(tmp)
    with open(os.path.join(tmp, "garbage"), "w") as f:
        f.write("partial")
    fn(b3, 2)
    assert not os.path.exists(tmp)
    want = _rows(scd2_apply(None, spark.createDataFrame(CHANGES, SCHEMA), ["id"]))
    assert _rows(spark.read.parquet(hist)) == want


def test_first_write_crash_discards_partial_temp(spark, tmp_path):
    """Crash mid-write on the history's FIRST-ever swap: no live dir, and
    the temp holds only Spark _temporary files (no watermark marker).
    The temp must be discarded, not promoted over the missing history —
    an unreadable dir would fail every replay — and the replay applies
    the epoch from scratch."""
    hist = str(tmp_path / "hist")
    part = os.path.join(swapstore.tmp_path(hist), "_temporary", "0")
    os.makedirs(part)
    with open(os.path.join(part, "part-000.parquet"), "w") as f:
        f.write("not parquet")
    b1 = _batches(spark)[0]
    scd_stream.make_scd2_batch_fn(hist, ["id"])(b1, 0)
    assert not os.path.exists(swapstore.tmp_path(hist))
    assert _rows(spark.read.parquet(hist)) == _rows(scd2_apply(None, b1, ["id"]))


def test_scd2_through_streaming_engine(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # one json file per micro-batch-ish chunk; availableNow drains all
    for i, chunk in enumerate([CHANGES[:3], CHANGES[3:]]):
        with open(src / f"b{i}.json", "w") as f:
            for c in chunk:
                f.write(
                    json.dumps(
                        dict(zip(("id", "name", "city", "ts", "op"), c))
                    )
                    + "\n"
                )
    hist = str(tmp_path / "hist")
    q = scd_stream.scd2_files(
        spark,
        str(src),
        hist,
        str(tmp_path / "ckpt"),
        ["id"],
        SCHEMA,
    )
    q.awaitTermination(120)
    got = _rows(spark.read.parquet(hist))
    want = _rows(scd2_apply(None, spark.createDataFrame(CHANGES, SCHEMA), ["id"]))
    assert got == want
