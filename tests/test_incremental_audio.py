"""Incremental + streaming audio dedup against the persisted
constellation index (operators/incremental_audio.py,
streaming/dedup_stream.py, rebuild_audio_index)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import audio as A
from basic_data_pipeline_spark.operators import incremental_audio as IA
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.sources import tables
from basic_data_pipeline_spark.streaming import dedup_stream
from basic_data_pipeline_spark.streaming import rebuild


def _media(spark, lo, hi):
    """Real-WAV corpus slice: groups of 8 ids render the same chord
    sequence at member-shifted offsets, so a mid-group batch split puts
    matching clips on both sides of every boundary. group_size=8 keeps
    member offsets within the synth generator's padded tail."""
    ids = spark.range(lo, hi).select(F.col("id").alias("media_id"))
    return A.synth_audio(
        ids, id_col="media_id", group_size=8, seconds=1.0, rate=8000
    )


def _ids(df):
    return {r["media_id"] for r in df.select("media_id").distinct().collect()}


class _Boom(RuntimeError):
    pass


def test_incremental_matches_one_shot(spark, tmp_path):
    full = _media(spark, 0, 32)
    one = IA.build_audio_index(spark, full, str(tmp_path / "one"))

    b1 = _media(spark, 0, 12)  # splits group 1 (ids 8..15) mid-group
    b2 = _media(spark, 12, 32)
    inc = str(tmp_path / "inc")
    s1 = IA.build_audio_index(spark, b1, inc)
    s2 = IA.incremental_audio_dedup(spark, b2, inc)
    assert _ids(one) == _ids(s1) | _ids(s2)
    assert _ids(one) == {0, 8, 16, 24}  # one survivor per group


def test_cross_batch_matches_drop_and_index_grows(spark, tmp_path):
    idx = str(tmp_path / "idx")
    base = IA.build_audio_index(spark, _media(spark, 0, 8), idx)
    rows0 = spark.read.parquet(f"{idx}/fps").count()
    assert _ids(base) == {0}
    # group 1 is new: its first member is accepted, the rest match it
    s = IA.incremental_audio_dedup(spark, _media(spark, 8, 16), idx)
    assert _ids(s) == {8}
    rows1 = spark.read.parquet(f"{idx}/fps").count()
    assert rows1 > rows0  # exactly clip 8's fingerprints appended
    # pure replays of an indexed group: everything matches the corpus
    s2 = IA.incremental_audio_dedup(spark, _media(spark, 8, 16), idx)
    assert _ids(s2) == set()
    assert spark.read.parquet(f"{idx}/fps").count() == rows1


def test_undecodable_clips_pass_through_unindexed(spark, tmp_path):
    idx = str(tmp_path / "idx")
    IA.build_audio_index(spark, _media(spark, 0, 8), idx)
    rows0 = spark.read.parquet(f"{idx}/fps").count()
    junk = spark.createDataFrame(
        [(990001, bytearray(b"junk, not audio"))],
        "media_id long, data binary",
    )
    s = IA.incremental_audio_dedup(spark, junk, idx)
    # no fingerprints -> nothing to match, nothing to index; the clip's
    # id simply never appears in the fingerprint universe
    assert _ids(s) == set()
    assert spark.read.parquet(f"{idx}/fps").count() == rows0


def test_increment_only_shuffle(spark, tmp_path):
    idx = str(tmp_path / "idx")
    IA.build_audio_index(spark, _media(spark, 0, 16), idx)
    meta = IA.SPEC.read_meta(spark, idx)
    reg = IA.SPEC.register(spark, idx, "fps", meta)
    new_fps = A.audio_fingerprints(_media(spark, 16, 24))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = reg.join(
            new_fps.select(F.col("media_id").alias("_n"), "fhash"), "fhash"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SelectedBucketsCount" in plan, plan
    assert plan.count("Exchange hashpartitioning(fhash") == 1, plan


@pytest.mark.slow
def test_crash_rebuild_replay_matches_batch(spark, tmp_path, monkeypatch):
    idx_s, idx_b = str(tmp_path / "s"), str(tmp_path / "b")
    out = str(tmp_path / "out")
    base = _media(spark, 0, 8)
    IA.build_audio_index(spark, base, idx_s)
    IA.build_audio_index(spark, base, idx_b)
    b1, b2 = _media(spark, 8, 20), _media(spark, 20, 32)

    fn = dedup_stream.make_audio_batch_fn(idx_s, out)
    fn(b1, 0)
    rows_good = spark.read.parquet(f"{idx_s}/fps").count()

    real = tables.write_bucketed

    def boom(*a, **kw):
        real(*a, **kw)
        raise _Boom("injected mid-append crash")

    with monkeypatch.context() as m:
        m.setattr(tables, "write_bucketed", boom)
        with pytest.raises(_Boom):
            fn(b2, 1)
    assert spark.read.parquet(f"{idx_s}/fps").count() > rows_good

    with pytest.raises(dedup_stream.DirtyIndexError):
        fn(b2, 1)

    rep = rebuild.rebuild_audio_index(spark, idx_s, out_root=out)
    assert rep["tables"]["fps"]["rows_after"] == rows_good
    assert rep["last_epoch"] == 0

    fn(b2, 1)  # replay runs cleanly against the recovered index
    got = _ids(spark.read.parquet(f"{out}/epoch=*"))
    expected = _ids(
        IA.incremental_audio_dedup(spark, b1, idx_b)
    ) | _ids(IA.incremental_audio_dedup(spark, b2, idx_b))
    assert got == expected
    ledger = indexspec.read_ledger(idx_s)
    assert ledger["stream"]["last_epoch"] == 1
    assert ledger["stream"]["intent"] is None


@pytest.mark.slow
def test_compaction_preserves_results(spark, tmp_path):
    idx = str(tmp_path / "idx")
    IA.build_audio_index(spark, _media(spark, 0, 8), idx)
    IA.incremental_audio_dedup(spark, _media(spark, 8, 16), idx)
    IA.incremental_audio_dedup(spark, _media(spark, 16, 24), idx)
    rep = IA.compact_audio_index(spark, idx)
    assert rep["files_after"] <= IA.SPEC.read_meta(spark, idx)["n_buckets"]
    assert rep["files_after"] < rep["files_before"]
    s = IA.incremental_audio_dedup(spark, _media(spark, 16, 24), idx)
    assert _ids(s) == set()
