"""Streaming entity resolution (streaming/dedup_stream.py): stream ==
batch equivalence across micro-batch boundaries (incl. a bridge merge),
replay skip without touching the index, DirtyIndexError on a mid-append
crash, and an end-to-end run through the real streaming engine —
mirroring test_dedup_stream.py, same ledger contract."""

from __future__ import annotations

import json
import os

import pytest

from basic_data_pipeline_spark.operators import entity as E
from basic_data_pipeline_spark.operators import incremental_entity as IE
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.streaming import dedup_stream

B0 = [(1, "acme corp"), (2, "globex inc"), (3, "initech llc"),
      (4, "acme corpx"), (5, "datum corp")]
B1 = [(10, "globex incx"), (11, "hooli"), (12, "datum co")]
B2 = [(20, "datum cor"), (21, "zzz systems")]  # 20 bridges 5 and 12


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, name string")


def _out(spark, out_root):
    return {
        r["id"]: r["entity_id"]
        for r in spark.read.parquet(f"{out_root}/epoch=*").collect()
    }


def test_stream_batches_match_batch_operator_with_bridge(spark, tmp_path):
    idx_s = str(tmp_path / "idx_stream")
    idx_b = str(tmp_path / "idx_batch")
    out = str(tmp_path / "out")
    IE.build_entity_index(spark, _df(spark, B0), idx_s)
    IE.build_entity_index(spark, _df(spark, B0), idx_b)

    dedup_stream.run_entity_batches(
        spark, [_df(spark, B1), _df(spark, B2)], idx_s, out
    )

    expected = {}
    for rows in (B1, B2):
        expected |= {
            r["id"]: r["entity_id"]
            for r in IE.incremental_resolve(
                spark, _df(spark, rows), idx_b
            ).collect()
        }
    assert _out(spark, out) == expected
    # the bridge resolved inside the stream too: 20 joins 5's entity
    assert _out(spark, out)[20] == 5

    # and the full maintained resolution equals the one-shot resolve
    got = {
        r["id"]: r["entity_id"]
        for r in IE.current_entities(spark, idx_s).collect()
    }
    want = {
        r["id"]: r["entity_id"]
        for r in E.resolve_entities(
            _df(spark, B0 + B1 + B2), "id", "name", max_edit=1
        ).collect()
    }
    assert got == want

    ledger = indexspec.read_ledger(idx_s)
    assert ledger["stream"]["last_epoch"] == 1
    assert ledger["stream"]["intent"] is None
    assert ledger["stream"]["max_id"] == 21  # completed-epoch id watermark


@pytest.mark.slow
def test_stream_replay_of_completed_epoch_is_dropped(spark, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    IE.build_entity_index(spark, _df(spark, B0), idx)
    fn = dedup_stream.make_entity_batch_fn(idx, out)
    fn(_df(spark, B1), 0)
    n_grams = spark.read.parquet(f"{idx}/grams").count()
    before = _out(spark, out)
    fn(_df(spark, B1), 0)  # full replay: must not touch index or output
    assert spark.read.parquet(f"{idx}/grams").count() == n_grams
    assert _out(spark, out) == before


@pytest.mark.slow
def test_mid_append_crash_raises_dirty_index(spark, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    IE.build_entity_index(spark, _df(spark, B0), idx)
    fn = dedup_stream.make_entity_batch_fn(idx, out)
    fn(_df(spark, B1), 0)
    # simulate a crash mid-append: intent set, ledger never advanced
    lp = dedup_stream._ledger_path(idx)
    with open(lp) as f:
        ledger = json.load(f)
    ledger["stream"]["intent"] = 1
    with open(lp, "w") as f:
        json.dump(ledger, f)
    with pytest.raises(dedup_stream.DirtyIndexError):
        fn(_df(spark, B2), 1)


def test_empty_batch_advances_ledger(spark, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    IE.build_entity_index(spark, _df(spark, B0), idx)
    fn = dedup_stream.make_entity_batch_fn(idx, out)
    fn(spark.createDataFrame([], "id long, name string"), 0)
    assert indexspec.read_ledger(idx)["stream"]["last_epoch"] == 0
    assert not os.path.exists(out)  # no output dir for an empty epoch


@pytest.mark.slow
def test_streaming_engine_end_to_end(spark, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    IE.build_entity_index(spark, _df(spark, B0), idx)
    os.makedirs(src)
    for i, rows in enumerate((B1, B2)):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for rid, name in rows:
                f.write(json.dumps({"id": rid, "name": name}) + "\n")
    q = dedup_stream.entity_files(
        spark, src, idx, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = _out(spark, out)
    assert set(got) == {r for r, _ in B1 + B2}
    # the maintained index equals the one-shot resolution
    full = {
        r["id"]: r["entity_id"]
        for r in IE.current_entities(spark, idx).collect()
    }
    want = {
        r["id"]: r["entity_id"]
        for r in E.resolve_entities(
            _df(spark, B0 + B1 + B2), "id", "name", max_edit=1
        ).collect()
    }
    assert full == want
