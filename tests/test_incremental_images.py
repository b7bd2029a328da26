"""Incremental + streaming perceptual image dedup against the persisted
band index (operators/incremental_images.py, streaming/dedup_stream.py,
rebuild_image_index)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import images as I
from basic_data_pipeline_spark.operators import incremental_images as II
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.sources import tables
from basic_data_pipeline_spark.streaming import dedup_stream
from basic_data_pipeline_spark.streaming import rebuild

MH = 8


def _media(spark, lo, hi):
    """Real-PNG corpus slice: groups of 8 ids share a base pattern, so
    a [0,4) / [4,8) batch split puts near-dups on BOTH sides of every
    batch boundary."""
    ids = spark.range(lo, hi).select(F.col("id").alias("media_id"))
    return I.synth_images(ids, id_col="media_id", group_size=8, noise_px=2)


def _ids(df):
    return {r["media_id"] for r in df.select("media_id").collect()}


class _Boom(RuntimeError):
    pass


def test_incremental_matches_one_shot(spark, tmp_path):
    full = _media(spark, 0, 32)
    # precondition for greedy == online-greedy equivalence: every
    # within-group pair is inside the Hamming budget (complete graphs)
    hs = {
        r["media_id"]: r["ihash"]
        for r in I.image_hashes(full).collect()
    }
    for a in hs:
        for b in hs:
            if a < b and a // 8 == b // 8:
                assert bin((hs[a] ^ hs[b]) & (2**64 - 1)).count("1") <= MH

    one_idx = str(tmp_path / "one")
    one_shot = II.build_image_index(
        spark, full, one_idx, max_hamming=MH
    )

    inc_idx = str(tmp_path / "inc")
    b1 = _media(spark, 0, 12)   # splits group 1 (ids 8..15) mid-group
    b2 = _media(spark, 12, 32)
    s1 = II.build_image_index(spark, b1, inc_idx, max_hamming=MH)
    s2 = II.incremental_image_dedup(spark, b2, inc_idx)
    assert _ids(one_shot) == _ids(s1) | _ids(s2)
    # one survivor per complete group
    assert _ids(one_shot) == {0, 8, 16, 24}


def test_cross_batch_duplicates_drop_and_index_grows(spark, tmp_path):
    idx = str(tmp_path / "idx")
    II.build_image_index(spark, _media(spark, 0, 8), idx, max_hamming=MH)
    rows0 = spark.read.parquet(f"{idx}/bands").count()
    # the same group again (ids 8..15 render group 1 — new group) plus
    # more of group 0? ids 0..8 done; feed ids overlapping group 1 only
    s = II.incremental_image_dedup(spark, _media(spark, 8, 16), idx)
    assert _ids(s) == {8}
    rows1 = spark.read.parquet(f"{idx}/bands").count()
    assert rows1 == rows0 + (MH + 1)  # one accepted image => one band set


def test_undecodable_rows_pass_through_unindexed(spark, tmp_path):
    idx = str(tmp_path / "idx")
    II.build_image_index(spark, _media(spark, 0, 8), idx, max_hamming=MH)
    rows0 = spark.read.parquet(f"{idx}/bands").count()
    junk = spark.createDataFrame(
        [(990001, bytearray(b"junk, not an image"))],
        "media_id long, data binary",
    )
    s = II.incremental_image_dedup(spark, junk, idx)
    assert _ids(s) == {990001}
    assert s.first()["ihash"] is None
    assert spark.read.parquet(f"{idx}/bands").count() == rows0


def test_increment_only_shuffle(spark, tmp_path):
    idx = str(tmp_path / "idx")
    II.build_image_index(spark, _media(spark, 0, 16), idx, max_hamming=MH)
    meta = II.SPEC.read_meta(spark, idx)
    reg = II.SPEC.register(spark, idx, "bands", meta)
    new_bands = I.hash_bands(
        I.image_hashes(_media(spark, 16, 24)), MH, id_col="media_id"
    )
    # disable broadcast to pin the at-scale shape (a fixture-sized
    # increment would broadcast — fine live, but the property under
    # test is the non-broadcast plan's co-location)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = reg.select("bi", "bv", F.col("ihash").alias("_ch")).join(
            new_bands, ["bi", "bv"]
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # exactly ONE hash exchange on the band key: the increment side.
    # The bucketed index scans in place.
    assert "SelectedBucketsCount" in plan, plan
    assert plan.count("Exchange hashpartitioning(bi") == 1, plan


@pytest.mark.slow
def test_stream_replay_is_noop_and_outputs_match_batch(spark, tmp_path):
    idx_s, idx_b = str(tmp_path / "s"), str(tmp_path / "b")
    out = str(tmp_path / "out")
    base = _media(spark, 0, 8)
    II.build_image_index(spark, base, idx_s, max_hamming=MH)
    II.build_image_index(spark, base, idx_b, max_hamming=MH)
    b1, b2 = _media(spark, 8, 20), _media(spark, 20, 32)

    fn = dedup_stream.run_image_batches(spark, [b1, b2], idx_s, out)
    rows = spark.read.parquet(f"{idx_s}/bands").count()
    fn(b2, 1)  # full replay of a completed epoch: skipped outright
    assert spark.read.parquet(f"{idx_s}/bands").count() == rows

    got = _ids(spark.read.parquet(f"{out}/epoch=*"))
    expected = _ids(
        II.incremental_image_dedup(spark, b1, idx_b)
    ) | _ids(II.incremental_image_dedup(spark, b2, idx_b))
    assert got == expected


@pytest.mark.slow
def test_crash_rebuild_replay_matches_batch(spark, tmp_path, monkeypatch):
    idx_s, idx_b = str(tmp_path / "s"), str(tmp_path / "b")
    out = str(tmp_path / "out")
    base = _media(spark, 0, 8)
    II.build_image_index(spark, base, idx_s, max_hamming=MH)
    II.build_image_index(spark, base, idx_b, max_hamming=MH)
    b1, b2 = _media(spark, 8, 20), _media(spark, 20, 32)

    fn = dedup_stream.make_image_batch_fn(idx_s, out)
    fn(b1, 0)
    rows_good = spark.read.parquet(f"{idx_s}/bands").count()

    # epoch 1 crashes AFTER its band append, before the ledger advance
    real = tables.write_bucketed

    def boom(*a, **kw):
        real(*a, **kw)
        raise _Boom("injected mid-append crash")

    with monkeypatch.context() as m:
        m.setattr(tables, "write_bucketed", boom)
        with pytest.raises(_Boom):
            fn(b2, 1)
    assert spark.read.parquet(f"{idx_s}/bands").count() > rows_good

    with pytest.raises(dedup_stream.DirtyIndexError):
        fn(b2, 1)

    rep = rebuild.rebuild_image_index(spark, idx_s, out_root=out)
    assert rep["tables"]["bands"]["rows_after"] == rows_good
    assert rep["tables"]["bands"]["rows_before"] > rows_good
    assert rep["last_epoch"] == 0

    fn(b2, 1)  # replay runs cleanly against the recovered index
    got = _ids(spark.read.parquet(f"{out}/epoch=*"))
    expected = _ids(
        II.incremental_image_dedup(spark, b1, idx_b)
    ) | _ids(II.incremental_image_dedup(spark, b2, idx_b))
    assert got == expected
    ledger = indexspec.read_ledger(idx_s)
    assert ledger["stream"]["last_epoch"] == 1
    assert ledger["stream"]["intent"] is None


@pytest.mark.slow
def test_compaction_preserves_results(spark, tmp_path):
    idx = str(tmp_path / "idx")
    II.build_image_index(spark, _media(spark, 0, 8), idx, max_hamming=MH)
    II.incremental_image_dedup(spark, _media(spark, 8, 16), idx)
    II.incremental_image_dedup(spark, _media(spark, 16, 24), idx)
    rep = II.compact_image_index(spark, idx)
    assert rep["files_after"] <= II.SPEC.read_meta(spark, idx)["n_buckets"]
    assert rep["files_after"] < rep["files_before"]
    # post-compaction increments still resolve against the full corpus
    s = II.incremental_image_dedup(spark, _media(spark, 16, 24), idx)
    assert _ids(s) == set()  # pure replays of an indexed group: all dup