"""Bucketed-index compaction (maintenance.compact_bucketed + the
per-family compact_index helpers): every epoch append lays down
n_buckets more files, compaction folds each table back to ONE file per
bucket, results and bucketed-join plan properties are unchanged, and
the intent guard refuses to fold a crashed epoch's partial rows in."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import incremental
from basic_data_pipeline_spark.operators import incremental_audio as IA
from basic_data_pipeline_spark.operators import incremental_entity as IE
from basic_data_pipeline_spark.operators import incremental_images as II
from basic_data_pipeline_spark.operators import incremental_linkgraph as G
from basic_data_pipeline_spark.operators import incremental_retrieval as IR
from basic_data_pipeline_spark.operators import incremental_substring as IS
from basic_data_pipeline_spark.operators import retrieval, substring
from basic_data_pipeline_spark.streaming import dedup_stream, swapstore

SF_DIR = "/root/testdata/sf0.001"


def _files(path):
    return [
        f
        for f in glob.glob(os.path.join(path, "*.parquet"))
        if os.path.isfile(f)
    ]


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def test_retrieval_compact_folds_files_and_preserves_search(
    spark, docs, tmp_path
):
    idx = str(tmp_path / "idx")
    parts = [
        docs.filter(F.col("doc_id") < 150),
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)),
        docs.filter(F.col("doc_id") >= 300),
    ]
    IR.build_retrieval_index(spark, parts[0], idx, n_buckets=4)
    for p in parts[1:]:
        IR.incremental_retrieval_append(spark, p, idx)
    q = docs.filter(F.col("doc_id") % 41 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    before = {
        tuple(r)
        for r in IR.search_retrieval_index(
            spark, q, idx, 3, exclude_self=True
        ).collect()
    }
    n_before = len(_files(f"{idx}/postings"))
    rep = IR.compact_index(spark, idx)
    assert rep["postings"]["files_after"] <= 4 < n_before
    assert rep["dfreq"]["rows_after"] <= rep["dfreq"]["rows_before"]
    after = {
        tuple(r)
        for r in IR.search_retrieval_index(
            spark, q, idx, 3, exclude_self=True
        ).collect()
    }
    assert after == before and before
    # and a post-compaction append still works (table re-registration,
    # bucket spec intact)
    IR.incremental_retrieval_append(
        spark,
        spark.createDataFrame(
            [(10_000_000_000, "fresh appended doc")],
            "doc_id long, text string",
        ),
        idx,
    )
    assert IR.index_stats(spark, idx)["n_docs"] == docs.count() + 1


def test_substring_compact_preserves_membership_and_plan(
    spark, docs, tmp_path
):
    idx = str(tmp_path / "idx")
    base = docs.filter(F.col("doc_id") < 200)
    IS.build_substring_index(spark, base, idx, k=8, n_buckets=4)
    for lo, hi in ((200, 350), (350, 10_000_000)):
        IS.incremental_substring_dedup(
            spark,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            idx,
        )
    grams_before = {
        r["gram"]
        for r in spark.read.parquet(f"{idx}/grams").select("gram").collect()
    }
    n_before = len(_files(f"{idx}/grams"))
    rep = IS.compact_index(spark, idx)
    assert rep["grams"]["files_after"] <= 4 < n_before
    grams_after = {
        r["gram"]
        for r in spark.read.parquet(f"{idx}/grams").select("gram").collect()
    }
    assert grams_after == grams_before

    # the zero-exchange membership-join property survives compaction
    meta = IS.SPEC.read_meta(spark, idx)
    reg = IS.SPEC.register(spark, idx, "grams", meta)
    occ = substring.gram_occurrences(
        spark.createDataFrame(
            [(99_000_000_000, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        ),
        k=8,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            occ.join(reg, "gram", "left_semi")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SelectedBucketsCount" in plan, plan
    assert plan.count("Exchange hashpartitioning(gram") == 1, plan


@pytest.mark.slow
def test_dedup_and_entity_compact_round_trip(spark, docs, tmp_path):
    idx_d = str(tmp_path / "idx_d")
    incremental.build_index(
        spark, docs.filter(F.col("doc_id") < 250), idx_d, n_buckets=4
    )
    incremental.incremental_dedup(
        spark, docs.filter(F.col("doc_id") >= 250), idx_d
    )
    bands_rows = spark.read.parquet(f"{idx_d}/bands").count()
    rep = incremental.compact_index(spark, idx_d)
    assert rep["bands"]["rows"] == bands_rows
    assert rep["bands"]["files_after"] < rep["bands"]["files_before"]

    idx_e = str(tmp_path / "idx_e")
    names = spark.createDataFrame(
        [(1, "acme corp"), (2, "globex inc"), (3, "initech llc")],
        "id long, name string",
    )
    IE.build_entity_index(spark, names, idx_e, n_buckets=4)
    IE.incremental_resolve(
        spark,
        spark.createDataFrame([(10, "acme corpx")], "id long, name string"),
        idx_e,
    )
    strings_before = {
        tuple(r) for r in spark.read.parquet(f"{idx_e}/strings").collect()
    }
    IE.compact_index(spark, idx_e)
    strings_after = {
        tuple(r) for r in spark.read.parquet(f"{idx_e}/strings").collect()
    }
    assert strings_after == strings_before


COMPACTIONS = {
    "dedup": incremental.compact_index,
    "substring": IS.compact_index,
    "entity": IE.compact_index,
    "retrieval": IR.compact_index,
    "image": II.compact_image_index,
    "audio": IA.compact_audio_index,
    "graph": G.compact_graph_index,
}


@pytest.mark.parametrize("family", list(COMPACTIONS))
def test_compact_refuses_pending_intent(spark, tmp_path, family):
    """The guard runs before any meta read: a ledger with a pending
    intent is all a refusal needs."""
    idx = str(tmp_path / "idx")
    dedup_stream._write_ledger(
        idx, {"stream": {"last_epoch": 0, "intent": 1}}
    )
    with pytest.raises(RuntimeError, match="streaming.rebuild"):
        COMPACTIONS[family](spark, idx)


def test_compact_recovers_crashed_swap(spark, docs, tmp_path):
    """A leftover swap temp (crashed compaction) is discarded when
    the original survives, and the re-run converges."""
    idx = str(tmp_path / "idx")
    IR.build_retrieval_index(spark, docs.limit(100), idx, n_buckets=4)
    stale = swapstore.tmp_path(f"{idx}/postings")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk"), "w") as f:
        f.write("partial")
    rep = IR.compact_index(spark, idx)
    assert not os.path.exists(stale)
    assert rep["postings"]["rows"] > 0
