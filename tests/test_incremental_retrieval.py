"""Incremental BM25 inverted index (operators/incremental_retrieval.py)
and its streaming twin (streaming/dedup_stream.py): index-backed
search == one-shot bm25_topk EXACTLY (ranks and scores) under any batch
split, term predicates reach the postings scan, appends never touch the
index tables, and the ledger/rebuild machinery recovers a mid-append
crash across the three-table append."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import incremental_retrieval as IR
from basic_data_pipeline_spark.operators import retrieval
from basic_data_pipeline_spark.sources import tables
from basic_data_pipeline_spark.streaming import dedup_stream, rebuild

SF_DIR = "/root/testdata/sf0.001"

B0 = [
    (1, "spark shuffle join broadcast join"),
    (2, "spark window rank the the the"),
    (3, "the quick brown fox the"),
]
B1 = [
    (4, "shuffle shuffle shuffle skew salt"),
    (5, "broadcast dim table join spark"),
    (6, "  leading space   and   gaps "),
    (7, ""),  # token-less doc still counts toward N
]
B2 = [
    (8, "fox shuffle fox spark fox"),
    (9, "entirely novel vocabulary here"),
]
QUERIES = [(10, "spark join shuffle"), (11, "the fox"), (13, "zzz absent")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _qdf(spark, rows=QUERIES):
    return spark.createDataFrame(rows, "query_id long, query_text string")


def _rows(df):
    return {
        (r["query_id"], r["neighbor_id"], r["rank"], str(r["score"]))
        for r in df.collect()
    }


def _one_shot(spark, all_rows, queries, k=4, **kw):
    return retrieval.bm25_topk(_df(spark, all_rows), queries, k, **kw)


def test_split_build_appends_equal_one_shot(spark, tmp_path):
    """Build + two appends == bm25_topk over the concatenated corpus,
    exactly — scores included."""
    idx = str(tmp_path / "idx")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    IR.incremental_retrieval_append(spark, _df(spark, B1), idx)
    IR.incremental_retrieval_append(spark, _df(spark, B2), idx)

    q = _qdf(spark)
    got = _rows(IR.search_retrieval_index(spark, q, idx, 4))
    want = _rows(_one_shot(spark, B0 + B1 + B2, q))
    assert got == want and got  # non-vacuous

    stats = IR.index_stats(spark, idx)
    assert stats["n_docs"] == len(B0 + B1 + B2)


@pytest.mark.slow
def test_sf_corpus_split_equals_one_shot(spark, tmp_path):
    """Volume check on the fixture corpus: a 3-way split of sf0.001
    documents indexed incrementally answers query-by-document BM25
    identically to the one-shot operator."""
    idx = str(tmp_path / "idx")
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    # monotone split: thirds by id range, not modulo (watermark contract)
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    c1, c2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    parts = [
        docs.filter(F.col("doc_id") <= c1),
        docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)),
        docs.filter(F.col("doc_id") > c2),
    ]
    IR.build_retrieval_index(spark, parts[0], idx)
    for p in parts[1:]:
        IR.incremental_retrieval_append(spark, p, idx)

    q = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query_text"),
        )
    )
    got = _rows(
        IR.search_retrieval_index(
            spark, q, idx, 3, max_df_frac=0.3, exclude_self=True
        )
    )
    want = _rows(
        retrieval.bm25_topk(
            docs, q, 3, max_df_frac=0.3, exclude_self=True
        )
    )
    assert got == want and got


def test_search_prunes_scan_and_never_reshuffles_index(spark, tmp_path):
    """The scale contract of a search: the query term predicate reaches
    the postings parquet scan (pushed filter → row-group pruning inside
    the sorted buckets) and the index is never exchanged — the only
    shuffles are on candidate-sized (query, doc) keys."""
    idx = str(tmp_path / "idx")
    IR.build_retrieval_index(spark, _df(spark, B0 + B1), idx)
    res = IR.search_retrieval_index(spark, _qdf(spark), idx, 4)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(term" in plan, plan
    assert "Exchange hashpartitioning(term" not in plan, plan


def test_append_does_not_read_index(spark, tmp_path, monkeypatch):
    """Increment-only cost: folding a batch in must never open the
    existing postings/dfreq files."""
    idx = str(tmp_path / "idx")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    real = type(spark.read).parquet
    seen = []

    def spy(self, *paths):
        seen.extend(paths)
        return real(self, *paths)

    monkeypatch.setattr(type(spark.read), "parquet", spy)
    IR.incremental_retrieval_append(spark, _df(spark, B1), idx)
    assert not [p for p in seen if "postings" in p or "dfreq" in p], seen


def test_append_watermark_survives_int_range_jump(spark, tmp_path):
    """Regression (16x probe): a base corpus whose max id fits int32
    must not freeze _wm as INT — a later batch with an id beyond int32
    would overflow on insert. _wm always carries the id column's own
    type."""
    idx = str(tmp_path / "idx")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    big = [(10_000_000_000, "spark join giant id")]
    IR.incremental_retrieval_append(spark, _df(spark, big), idx)
    q = _qdf(spark)
    got = _rows(IR.search_retrieval_index(spark, q, idx, 4))
    assert got == _rows(_one_shot(spark, B0 + big, q))


def test_compact_dfreq_preserves_results(spark, tmp_path):
    idx = str(tmp_path / "idx")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    IR.incremental_retrieval_append(spark, _df(spark, B1), idx)
    IR.incremental_retrieval_append(spark, _df(spark, B2), idx)
    q = _qdf(spark)
    before = _rows(IR.search_retrieval_index(spark, q, idx, 4))
    rep = IR.compact_dfreq(spark, idx)
    assert rep["rows_after"] <= rep["rows_before"]
    assert _rows(IR.search_retrieval_index(spark, q, idx, 4)) == before


def test_compact_refuses_on_pending_intent(spark, tmp_path):
    idx = str(tmp_path / "idx")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    dedup_stream._write_ledger(
        idx, {"stream": {"last_epoch": 0, "intent": 1}}
    )
    with pytest.raises(RuntimeError, match="streaming.rebuild"):
        IR.compact_dfreq(spark, idx)


def test_stream_replay_skip_and_stale_intent(spark, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    fn = dedup_stream.run_retrieval_batches(
        spark, [_df(spark, B1)], idx, out
    )
    stats = IR.index_stats(spark, idx)

    # full replay of the completed epoch: df counts and stats untouched
    fn(_df(spark, B1), 0)
    assert IR.index_stats(spark, idx) == stats

    lp = dedup_stream._ledger_path(idx)
    with open(lp) as f:
        ledger = json.load(f)
    ledger["stream"]["intent"] = 5
    with open(lp, "w") as f:
        json.dump(ledger, f)
    with pytest.raises(dedup_stream.DirtyIndexError):
        fn(_df(spark, B2), 7)


class _Boom(RuntimeError):
    pass


@pytest.mark.slow
@pytest.mark.parametrize("crash_at", [1, 2])
def test_crash_rebuild_replay_matches_batch(
    spark, tmp_path, monkeypatch, crash_at
):
    """Mid-append crash after the postings write (crash_at=1) or after
    the dfreq write (crash_at=2): DirtyIndexError → rebuild → replay →
    search equals the uninterrupted one-shot result."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    fn = dedup_stream.make_retrieval_batch_fn(idx, out)
    fn(_df(spark, B1), 0)
    good_postings = spark.read.parquet(f"{idx}/postings").count()
    good_stats = IR.index_stats(spark, idx)

    real = tables.write_bucketed
    calls = {"i": 0}

    def wrapper(*a, **kw):
        real(*a, **kw)
        calls["i"] += 1
        if calls["i"] == crash_at:
            raise _Boom("injected mid-append crash")

    with monkeypatch.context() as m:
        m.setattr(tables, "write_bucketed", wrapper)
        with pytest.raises(_Boom):
            fn(_df(spark, B2), 1)
    # the index genuinely holds a partial epoch now
    assert spark.read.parquet(f"{idx}/postings").count() > good_postings

    with pytest.raises(dedup_stream.DirtyIndexError):
        fn(_df(spark, B2), 1)

    rep = rebuild.rebuild_retrieval_index(spark, idx, out_root=out)
    assert rep["tables"]["postings"]["rows_after"] == good_postings
    assert IR.index_stats(spark, idx) == good_stats
    assert rep["last_epoch"] == 0

    fn(_df(spark, B2), 1)  # the crashed epoch replays cleanly
    q = _qdf(spark)
    got = _rows(IR.search_retrieval_index(spark, q, idx, 4))
    want = _rows(_one_shot(spark, B0 + B1 + B2, q))
    assert got == want and got


@pytest.mark.slow
def test_streaming_engine_end_to_end(spark, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    os.makedirs(src)
    for i, rows in enumerate((B1, B2)):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for did, txt in rows:
                f.write(json.dumps({"doc_id": did, "text": txt}) + "\n")
    qy = dedup_stream.retrieval_files(
        spark, src, idx, out, str(tmp_path / "ckpt")
    )
    qy.awaitTermination(120)
    # receipts landed per epoch, one row per doc
    receipts = spark.read.parquet(f"{out}/epoch=*")
    assert receipts.count() == len(B1 + B2)
    # and the index answers exactly like the one-shot operator
    q = _qdf(spark)
    got = _rows(IR.search_retrieval_index(spark, q, idx, 4))
    assert got == _rows(_one_shot(spark, B0 + B1 + B2, q))


def test_hybrid_index_search_composes_persisted_indexes(spark, tmp_path):
    """Hybrid = rrf_fuse(BM25-from-index, cosine-from-IVF-index) exactly
    (compositional equality), with both modalities voting where they
    overlap — and the corpus is touched by neither probe."""
    from basic_data_pipeline_spark.operators import retrieval, similarity

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(vecs.first()["embedding"])

    t_idx = str(tmp_path / "tidx")
    a_idx = str(tmp_path / "aidx")
    IR.build_retrieval_index(spark, docs, t_idx)
    similarity.ivf_build_index(vecs, a_idx, dim)

    both = (
        docs.join(
            vecs.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        )
        .filter(F.col("doc_id") % 29 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query_text"),
            "embedding",
        )
    )
    assert both.count() >= 3

    got = IR.hybrid_index_search(
        spark, both, t_idx, a_idx, dim, 5, exclude_self=True
    )
    rows = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["n_lists"])
        for r in got.collect()
    }
    assert rows

    sparse = IR.search_retrieval_index(
        spark, both.select("query_id", "query_text"), t_idx, 15,
        exclude_self=True,
    )
    dense = similarity.ivf_index_search(
        both.select(F.col("query_id").alias("vec_id"), "embedding"),
        a_idx, dim, 15,
    )
    want = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["n_lists"])
        for r in retrieval.rrf_fuse(
            {
                "bm25": sparse.select("query_id", "neighbor_id", "rank"),
                "cosine": dense.select("query_id", "neighbor_id", "rank"),
            },
            5,
        ).collect()
    }
    assert rows == want
    # per-query: exactly k results (corpus is big enough), ranks dense
    per_q = {}
    for (qid, _), (rank, n_lists) in rows.items():
        per_q.setdefault(qid, []).append(rank)
        assert n_lists in (1, 2)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, 6)), (qid, ranks)


def test_search_without_driver_term_collect(spark, tmp_path):
    """collect_terms=False (corpus-sized query batches): semi-join
    pruning, no driver term list — results identical to the pushed-
    predicate path and to the one-shot operator; empty-text queries
    ride along."""
    idx = str(tmp_path / "idx")
    IR.build_retrieval_index(spark, _df(spark, B0 + B1), idx)
    IR.incremental_retrieval_append(spark, _df(spark, B2), idx)
    q = _qdf(spark, QUERIES + [(12, "")])
    got = _rows(
        IR.search_retrieval_index(
            spark, q, idx, 4, collect_terms=False, max_df_frac=0.9
        )
    )
    want = _rows(
        _one_shot(spark, B0 + B1 + B2, q, max_df_frac=0.9)
    )
    assert got == want and got
    plan = (
        IR.search_retrieval_index(spark, q, idx, 4, collect_terms=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(term" not in plan  # no driver list


def test_as_of_completed_snapshot_during_partial_append(
    spark, tmp_path, monkeypatch
):
    """A search overlapping a crashed (partial) append: the default
    read would see postings whose df/stats never landed; with
    as_of_completed=True the result is EXACTLY the last completed
    epoch's index — the read-side twin of the rebuild cutoff."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    IR.build_retrieval_index(spark, _df(spark, B0), idx)
    fn = dedup_stream.make_retrieval_batch_fn(idx, out)
    fn(_df(spark, B1), 0)
    q = _qdf(spark)
    completed = _rows(IR.search_retrieval_index(spark, q, idx, 4))

    # crash after the postings write of epoch 1 — partial index state
    calls = {"i": 0}
    real = tables.write_bucketed

    def wrapper(*a, **kw):
        real(*a, **kw)
        calls["i"] += 1
        if calls["i"] == 1:
            raise _Boom("crash")

    with monkeypatch.context() as m:
        m.setattr(tables, "write_bucketed", wrapper)
        with pytest.raises(_Boom):
            fn(_df(spark, B2), 1)

    snap = _rows(
        IR.search_retrieval_index(spark, q, idx, 4, as_of_completed=True)
    )
    assert snap == completed
    # and equals the one-shot over exactly the completed corpus
    assert snap == _rows(_one_shot(spark, B0 + B1, q))
