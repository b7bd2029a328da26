"""Snapshot-consistent reads for the incremental index family (r10
verdict item #4; operators/indexspec.py). The scenario each test pins:
an index with one COMPLETED stream epoch, then an append that dies
mid-write (the test_rebuild crash shape — some tables hold the partial
epoch's rows, the ledger never advanced). A plain read sees the partial
epoch; an ``as_of_completed=True`` read returns EXACTLY the content as
of the last completed epoch — the retrieval index's read-isolation knob
(incremental_retrieval.index_search) ported to dedup / substring /
entity / image / audio / graph."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import incremental
from basic_data_pipeline_spark.operators import incremental_audio as IA
from basic_data_pipeline_spark.operators import incremental_entity as IE
from basic_data_pipeline_spark.operators import incremental_images as II
from basic_data_pipeline_spark.operators import incremental_linkgraph as IG
from basic_data_pipeline_spark.operators import incremental_substring as IS
from basic_data_pipeline_spark.operators import audio as A
from basic_data_pipeline_spark.operators import images as I
from basic_data_pipeline_spark.sources import tables
from basic_data_pipeline_spark.streaming import dedup_stream

SF_DIR = "/root/testdata/sf0.001"


class _Boom(RuntimeError):
    pass


def _crash_after_nth_write(monkeypatch, n):
    real = tables.write_bucketed
    calls = {"i": 0}

    def wrapper(*a, **kw):
        real(*a, **kw)
        calls["i"] += 1
        if calls["i"] == n:
            raise _Boom("injected mid-append crash")

    monkeypatch.setattr(tables, "write_bucketed", wrapper)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.slow
def test_dedup_read_as_of_completed_ignores_partial_epoch(
    spark, tmp_path, monkeypatch
):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = str(tmp_path / "idx")
    incremental.build_index(spark, docs.filter(F.col("doc_id") < 150), idx)
    fn = dedup_stream.make_dedup_batch_fn(idx, str(tmp_path / "out"))
    fn(docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)), 0)

    clean = {
        k: _rows(v) for k, v in incremental.read_dedup_index(spark, idx).items()
    }
    with monkeypatch.context() as m:
        _crash_after_nth_write(m, 1)  # bands appended, shingles not
        with pytest.raises(_Boom):
            fn(docs.filter(F.col("doc_id") >= 300), 1)

    dirty = incremental.read_dedup_index(spark, idx)
    pinned = incremental.read_dedup_index(spark, idx, as_of_completed=True)
    assert len(_rows(dirty["bands"])) > len(clean["bands"])  # partial visible
    assert {k: _rows(v) for k, v in pinned.items()} == clean


def test_substring_read_as_of_completed_ignores_partial_epoch(
    spark, tmp_path, monkeypatch
):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = str(tmp_path / "idx")
    IS.build_substring_index(
        spark, docs.filter(F.col("doc_id") < 150), idx, k=8
    )
    fn = dedup_stream.make_substring_batch_fn(idx, str(tmp_path / "out"))
    fn(docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)), 0)

    clean = _rows(IS.read_substring_index(spark, idx))
    with monkeypatch.context() as m:
        _crash_after_nth_write(m, 1)  # grams appended, ledger not advanced
        with pytest.raises(_Boom):
            fn(docs.filter(F.col("doc_id") >= 300), 1)

    assert len(_rows(IS.read_substring_index(spark, idx))) > len(clean)
    assert _rows(IS.read_substring_index(spark, idx, as_of_completed=True)) == clean


def _edf(spark, rows):
    return spark.createDataFrame(rows, "id long, name string")


@pytest.mark.slow
def test_entity_read_as_of_completed_ignores_partial_epoch(
    spark, tmp_path, monkeypatch
):
    idx = str(tmp_path / "idx")
    IE.build_entity_index(
        spark, _edf(spark, [(1, "acme corp"), (2, "zeta llc")]), idx
    )
    fn = dedup_stream.make_entity_batch_fn(idx, str(tmp_path / "out"))
    fn(_edf(spark, [(10, "acme corporation"), (11, "beta gmbh")]), 0)

    clean = _rows(IE.current_entities(spark, idx))
    with monkeypatch.context() as m:
        _crash_after_nth_write(m, 1)  # grams appended, strings not
        with pytest.raises(_Boom):
            fn(_edf(spark, [(20, "zeta limited liability co")]), 1)
    # make the partial epoch visible in STRINGS too for a strict check:
    # re-crash after the second write (grams then strings appended)
    with monkeypatch.context() as m:
        _crash_after_nth_write(m, 2)
        with pytest.raises((_Boom, dedup_stream.DirtyIndexError)):
            fn(_edf(spark, [(21, "beta gesellschaft")]), 1)

    dirty = _rows(IE.current_entities(spark, idx))
    pinned = _rows(IE.current_entities(spark, idx, as_of_completed=True))
    assert pinned == clean
    assert len(dirty) >= len(clean)


@pytest.mark.slow
def test_image_read_as_of_completed_ignores_partial_epoch(
    spark, tmp_path, monkeypatch
):
    def media(lo, hi):
        ids = spark.range(lo, hi).select(F.col("id").alias("media_id"))
        return I.synth_images(ids, id_col="media_id", group_size=8, noise_px=2)

    idx = str(tmp_path / "idx")
    II.build_image_index(spark, media(0, 8), idx, max_hamming=8)
    fn = dedup_stream.make_image_batch_fn(idx, str(tmp_path / "out"))
    fn(media(8, 16), 0)

    clean = _rows(II.read_image_index(spark, idx))
    with monkeypatch.context() as m:
        _crash_after_nth_write(m, 1)
        with pytest.raises(_Boom):
            fn(media(16, 24), 1)

    assert len(_rows(II.read_image_index(spark, idx))) > len(clean)
    assert _rows(II.read_image_index(spark, idx, as_of_completed=True)) == clean


@pytest.mark.slow
def test_audio_read_as_of_completed_ignores_partial_epoch(
    spark, tmp_path, monkeypatch
):
    def media(lo, hi):
        ids = spark.range(lo, hi).select(F.col("id").alias("media_id"))
        return A.synth_audio(
            ids, id_col="media_id", group_size=8, seconds=1.0, rate=8000
        )

    idx = str(tmp_path / "idx")
    IA.build_audio_index(spark, media(0, 8), idx)
    fn = dedup_stream.make_audio_batch_fn(idx, str(tmp_path / "out"))
    fn(media(8, 16), 0)

    clean = _rows(IA.read_audio_index(spark, idx))
    with monkeypatch.context() as m:
        _crash_after_nth_write(m, 1)
        with pytest.raises(_Boom):
            fn(media(16, 24), 1)

    assert len(_rows(IA.read_audio_index(spark, idx))) > len(clean)
    assert _rows(IA.read_audio_index(spark, idx, as_of_completed=True)) == clean


@pytest.mark.slow
def test_graph_read_as_of_completed_ignores_partial_epoch(
    spark, tmp_path, monkeypatch
):
    def edges(rows):
        return spark.createDataFrame(rows, "src long, dst long")

    idx = str(tmp_path / "idx")
    IG.build_graph_index(spark, edges([(1, 2), (2, 3), (4, 5)]), idx)
    fn = dedup_stream.make_graph_batch_fn(idx, str(tmp_path / "out"))
    fn(edges([(10, 1), (11, 4)]), 0)  # monotone src — the crawl convention

    clean_edges = _rows(IG.graph_edges(spark, idx))
    clean_comp = _rows(IG.components(spark, idx))
    with monkeypatch.context() as m:
        _crash_after_nth_write(m, 1)  # edges appended, labels/merges not
        with pytest.raises(_Boom):
            fn(edges([(20, 1), (20, 4)]), 1)  # would merge two components

    assert len(_rows(IG.graph_edges(spark, idx))) > len(clean_edges)
    assert _rows(IG.graph_edges(spark, idx, as_of_completed=True)) == clean_edges
    assert _rows(IG.components(spark, idx, as_of_completed=True)) == clean_comp


def test_as_of_requires_watermark(spark, tmp_path):
    """A batch-only index that never completed a stream epoch still has
    the BUILD watermark (meta max_id), so as_of reads work there; an
    index with neither raises loudly (matching retrieval's contract)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = str(tmp_path / "idx")
    incremental.build_index(spark, docs.filter(F.col("doc_id") < 100), idx)
    pinned = incremental.read_dedup_index(spark, idx, as_of_completed=True)
    plain = incremental.read_dedup_index(spark, idx)
    assert _rows(pinned["bands"]) == _rows(plain["bands"])

    from basic_data_pipeline_spark.operators import indexspec

    with pytest.raises(ValueError, match="id watermark"):
        indexspec.completed_cut(str(tmp_path / "nowhere"), {})
