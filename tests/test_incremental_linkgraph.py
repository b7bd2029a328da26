"""Incremental link-graph index: batch equivalence, alias-chain
merges, stream twin, crash rebuild (streaming/rebuild.py:
rebuild_graph_index)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import incremental_linkgraph as G
from basic_data_pipeline_spark.operators import linkgraph as LG
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.sources import tables
from basic_data_pipeline_spark.streaming import dedup_stream, rebuild


class _Boom(RuntimeError):
    pass


# srcs are monotone across batches (the crawl convention the rebuild
# watermark cut relies on); dsts may point anywhere, incl. "ahead".
BASE = [(0, 1), (1, 2), (3, 4), (5, 5)]
BATCH1 = [(10, 1), (11, 12), (13, 3), (13, 4)]
# 20 bridges {11,12} with {0,1,2,10}: merges a batch-1 label — forces
# an alias CHAIN (11's label 11 -> ... -> 0) across epochs
BATCH2 = [(20, 11), (20, 0), (21, 22)]
ALL = BASE + BATCH1 + BATCH2


def _edf(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def _comp(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_build_matches_batch_wcc(spark, tmp_path):
    idx = str(tmp_path / "idx")
    G.build_graph_index(spark, _edf(spark, BASE), idx)
    got = _comp(G.components(spark, idx))
    want = _comp(LG.connected_components(_edf(spark, BASE)))
    assert got == want


def test_incremental_matches_batch_wcc(spark, tmp_path):
    idx = str(tmp_path / "idx")
    G.build_graph_index(spark, _edf(spark, BASE), idx)
    r1 = G.add_edges(spark, _edf(spark, BATCH1), idx)
    assert set(_comp(r1)) == {10, 1, 11, 12, 13, 3, 4}
    G.add_edges(spark, _edf(spark, BATCH2), idx)
    got = _comp(G.components(spark, idx))
    want = _comp(LG.connected_components(_edf(spark, ALL)))
    assert got == want
    # the chain case really happened: 11 and 12 now label 0
    assert got[11] == got[0] == 0
    # edges/ holds the whole union
    assert (
        set(map(tuple, G.graph_edges(spark, idx).collect()))
        == set(ALL)
    )


@pytest.mark.slow
def test_batch_split_invariance(spark, tmp_path):
    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    G.build_graph_index(spark, _edf(spark, ALL), one)
    G.build_graph_index(spark, _edf(spark, BASE), two)
    G.add_edges(spark, _edf(spark, BATCH1), two)
    G.add_edges(spark, _edf(spark, BATCH2), two)
    assert _comp(G.components(spark, one)) == _comp(
        G.components(spark, two)
    )


def test_duplicate_edges_are_noops(spark, tmp_path):
    idx = str(tmp_path / "idx")
    G.build_graph_index(spark, _edf(spark, BASE), idx)
    before = G.graph_edges(spark, idx).count()
    out = G.add_edges(spark, _edf(spark, BASE), idx, wm=100)
    assert out.count() == 0
    assert G.graph_edges(spark, idx).count() == before
    assert _comp(G.components(spark, idx)) == _comp(
        LG.connected_components(_edf(spark, BASE))
    )


def test_empty_batch_frees_its_checkpoint(spark, tmp_path):
    """The all-duplicate / empty-batch early return must free the
    `fresh` checkpoint taken just above it (r8 ADVICE): a stream of
    no-op batches must not accumulate dead checkpoint blocks."""
    import time

    idx = str(tmp_path / "idx")
    G.build_graph_index(spark, _edf(spark, BASE), idx)
    sc = spark.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    for _ in range(3):
        out = G.add_edges(spark, _edf(spark, BASE), idx)  # wm=None path
        assert out.count() == 0
    for _ in range(50):
        after = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        if after <= before:
            break
        time.sleep(0.1)
    assert after <= before


@pytest.mark.slow
def test_compaction_folds_merges_and_preserves_labels(spark, tmp_path):
    idx = str(tmp_path / "idx")
    G.build_graph_index(spark, _edf(spark, BASE), idx)
    G.add_edges(spark, _edf(spark, BATCH1), idx)
    G.add_edges(spark, _edf(spark, BATCH2), idx)
    before = _comp(G.components(spark, idx))
    assert spark.read.parquet(f"{idx}/merges").count() > 0
    G.compact_graph_index(spark, idx)
    assert spark.read.parquet(f"{idx}/merges").count() == 0
    assert _comp(G.components(spark, idx)) == before
    # still incrementable after compaction
    G.add_edges(spark, _edf(spark, [(30, 5), (30, 21)]), idx)
    want = _comp(
        LG.connected_components(_edf(spark, ALL + [(30, 5), (30, 21)]))
    )
    assert _comp(G.components(spark, idx)) == want


def test_increment_only_shuffle(spark, tmp_path):
    idx = str(tmp_path / "idx")
    G.build_graph_index(spark, _edf(spark, BASE), idx)
    meta = G.SPEC.read_meta(spark, idx)
    idx_l = G.SPEC.register(spark, idx, "labels", meta)
    ends = _edf(spark, BATCH1).select(F.col("src").alias("node")).distinct()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = ends.join(idx_l.select("node", "label"), "node", "left")
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SelectedBucketsCount" in plan, plan
    # exactly TWO exchanges, both on the increment side (its distinct
    # at shuffle_partitions, then ENSURE_REQUIREMENTS re-alignment to
    # the 16-bucket layout); the bucketed labels scan contributes none
    assert plan.count("Exchange") == 2, plan
    assert plan.count("Exchange hashpartitioning(node") == 2, plan


@pytest.mark.slow
def test_stream_replay_is_noop_and_outputs_match_batch(spark, tmp_path):
    idx_s, idx_b = str(tmp_path / "s"), str(tmp_path / "b")
    out = str(tmp_path / "out")
    G.build_graph_index(spark, _edf(spark, BASE), idx_s)
    G.build_graph_index(spark, _edf(spark, BASE), idx_b)
    b1, b2 = _edf(spark, BATCH1), _edf(spark, BATCH2)

    fn = dedup_stream.run_edge_batches(spark, [b1, b2], idx_s, out)
    rows = spark.read.parquet(f"{idx_s}/edges").count()
    fn(b2, 1)  # full replay of a completed epoch: skipped outright
    assert spark.read.parquet(f"{idx_s}/edges").count() == rows

    # stream == batch: final component view AND per-epoch outputs
    assert _comp(G.components(spark, idx_s)) == _comp(
        LG.connected_components(_edf(spark, ALL))
    )
    e1 = _comp(spark.read.parquet(f"{out}/epoch=0"))
    want1 = _comp(G.add_edges(spark, b1, idx_b))
    assert e1 == want1


@pytest.mark.slow
def test_crash_rebuild_replay_matches_batch(spark, tmp_path, monkeypatch):
    idx_s = str(tmp_path / "s")
    out = str(tmp_path / "out")
    G.build_graph_index(spark, _edf(spark, BASE), idx_s)
    b1, b2 = _edf(spark, BATCH1), _edf(spark, BATCH2)

    fn = dedup_stream.make_graph_batch_fn(idx_s, out)
    fn(b1, 0)
    edges_good = spark.read.parquet(f"{idx_s}/edges").count()
    labels_good = spark.read.parquet(f"{idx_s}/labels").count()

    # epoch 1 crashes after the FIRST bucketed append (edges in,
    # labels + merge log not) — the cross-table crash window
    real = tables.write_bucketed

    def boom(*a, **kw):
        real(*a, **kw)
        raise _Boom("injected mid-append crash")

    with monkeypatch.context() as m:
        m.setattr(tables, "write_bucketed", boom)
        with pytest.raises(_Boom):
            fn(b2, 1)
    assert spark.read.parquet(f"{idx_s}/edges").count() > edges_good

    with pytest.raises(dedup_stream.DirtyIndexError):
        fn(b2, 1)

    rep = rebuild.rebuild_graph_index(spark, idx_s, out_root=out)
    assert rep["tables"]["edges"]["rows_after"] == edges_good
    assert rep["tables"]["labels"]["rows_after"] == labels_good
    assert rep["last_epoch"] == 0

    fn(b2, 1)  # replay runs cleanly against the recovered index
    assert _comp(G.components(spark, idx_s)) == _comp(
        LG.connected_components(_edf(spark, ALL))
    )
    ledger = indexspec.read_ledger(idx_s)
    assert ledger["stream"]["last_epoch"] == 1
    assert ledger["stream"]["intent"] is None


@pytest.mark.slow
def test_streaming_engine_end_to_end(spark, tmp_path):
    idx = str(tmp_path / "idx")
    src_dir = str(tmp_path / "edges_in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    G.build_graph_index(spark, _edf(spark, BASE), idx)
    _edf(spark, BATCH1 + BATCH2).write.parquet(src_dir)
    q = dedup_stream.edge_files(spark, src_dir, idx, out, ckpt)
    q.awaitTermination(120)
    assert _comp(G.components(spark, idx)) == _comp(
        LG.connected_components(_edf(spark, ALL))
    )
