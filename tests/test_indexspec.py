"""IndexSpec (operators/indexspec.py): registration, as-of reads and
legacy metas.

An index built in one process must accept appends from a fresh Spark
session, whose in-memory catalog has never seen its bucketed tables. A copy
of the built index at a new path is exactly that state — its md5-derived
catalog names were never registered — so the append there must re-register
each table with the bucket/sort spec the writer laid down, and return exactly
what the same-session append on the original returns. An as-of reader cuts
every table it reads at one watermark, and a dedup meta that predates
``id_col`` still reads and rebuilds."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.caching import release_persisted
from basic_data_pipeline_spark.operators import audio as A
from basic_data_pipeline_spark.operators import images as I
from basic_data_pipeline_spark.operators import incremental
from basic_data_pipeline_spark.operators import incremental_audio as IA
from basic_data_pipeline_spark.operators import incremental_entity as IE
from basic_data_pipeline_spark.operators import incremental_images as II
from basic_data_pipeline_spark.operators import incremental_linkgraph as G
from basic_data_pipeline_spark.operators import incremental_retrieval as IR
from basic_data_pipeline_spark.operators import incremental_substring as IS
from basic_data_pipeline_spark.operators import indexspec


def _docs(spark, sf_dir, lo, hi):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).select(
        "doc_id", "text"
    )


def _images(spark, lo, hi):
    ids = spark.range(lo, hi).select(F.col("id").alias("media_id"))
    return I.synth_images(ids, id_col="media_id", group_size=8, noise_px=2)


def _audio(spark, lo, hi):
    ids = spark.range(lo, hi).select(F.col("id").alias("media_id"))
    return A.synth_audio(
        ids, id_col="media_id", group_size=8, seconds=1.0, rate=8000
    )


def _names(spark, rows):
    return spark.createDataFrame(rows, "id long, name string")


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


#: family -> (spec, build(spark, idx, sf_dir), append(spark, idx, sf_dir))
FAMILIES = {
    "dedup": (
        incremental.SPEC,
        lambda s, p, d: incremental.build_index(
            s, _docs(s, d, 0, 40), p, n_buckets=2
        ),
        lambda s, p, d: incremental.incremental_dedup(
            s, _docs(s, d, 40, 60), p
        ),
    ),
    "substring": (
        IS.SPEC,
        lambda s, p, d: IS.build_substring_index(
            s, _docs(s, d, 0, 40), p, n_buckets=2
        ),
        lambda s, p, d: IS.incremental_substring_dedup(
            s, _docs(s, d, 40, 60), p
        ),
    ),
    "entity": (
        IE.SPEC,
        lambda s, p, d: IE.build_entity_index(
            s, _names(s, [(1, "acme corp"), (2, "globex inc")]), p,
            n_buckets=2,
        ),
        lambda s, p, d: IE.incremental_resolve(
            s, _names(s, [(10, "hooli"), (11, "zzz systems")]), p
        ),
    ),
    "retrieval": (
        IR.SPEC,
        lambda s, p, d: IR.build_retrieval_index(
            s, _docs(s, d, 0, 40), p, n_buckets=2
        ),
        lambda s, p, d: IR.incremental_retrieval_append(
            s, _docs(s, d, 40, 60), p
        ),
    ),
    "image": (
        II.SPEC,
        lambda s, p, d: II.build_image_index(
            s, _images(s, 0, 4), p, n_buckets=2
        ),
        lambda s, p, d: II.incremental_image_dedup(s, _images(s, 4, 8), p),
    ),
    "audio": (
        IA.SPEC,
        lambda s, p, d: IA.build_audio_index(
            s, _audio(s, 0, 4), p, n_buckets=2
        ),
        lambda s, p, d: IA.incremental_audio_dedup(s, _audio(s, 4, 8), p),
    ),
    "graph": (
        G.SPEC,
        lambda s, p, d: G.build_graph_index(
            s, _edges(s, [(0, 1), (3, 4)]), p, n_buckets=2
        ),
        lambda s, p, d: G.add_edges(s, _edges(s, [(10, 1), (13, 3)]), p),
    ),
}


#: the default tier runs the families whose append is cheap, plus entity
#: (whose writer does not sort, so a registration that declared a sort
#: made every fresh-session append fail); the rest run in the slow tier
FAST = ("substring", "entity", "retrieval")


@pytest.mark.parametrize(
    "family",
    [
        f if f in FAST else pytest.param(f, marks=pytest.mark.slow)
        for f in FAMILIES
    ],
)
def test_fresh_session_append_matches_same_session(
    spark, sf_dir, tmp_path, family
):
    spec, build, append = FAMILIES[family]
    same, fresh = str(tmp_path / "same"), str(tmp_path / "fresh")
    build(spark, same, sf_dir)
    shutil.copytree(same, fresh)
    assert not any(
        spark.catalog.tableExists(spec.table_name(fresh, t.name))
        for t in spec.tables
    )
    try:
        got = sorted(map(tuple, append(spark, fresh, sf_dir).collect()))
        assert got == sorted(map(tuple, append(spark, same, sf_dir).collect()))
    finally:
        release_persisted()  # batch appends leave their tracked persists


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _queries(spark, sf_dir):
    return _docs(spark, sf_dir, 0, 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )


#: family -> (build, batch append that lands above the build watermark,
#: as-of reader over more than one table)
PINNED_READERS = {
    "dedup": (
        FAMILIES["dedup"][1],
        FAMILIES["dedup"][2],
        lambda s, p, d: {
            t: _rows(df)
            for t, df in incremental.read_dedup_index(
                s, p, as_of_completed=True
            ).items()
        },
    ),
    "retrieval": (
        FAMILIES["retrieval"][1],
        FAMILIES["retrieval"][2],
        lambda s, p, d: _rows(
            IR.search_retrieval_index(
                s, _queries(s, d), p, 4, as_of_completed=True
            )
        ),
    ),
    "graph": (
        FAMILIES["graph"][1],
        # node 10 bridges the two base components: a merge-log row
        lambda s, p, d: G.add_edges(s, _edges(s, [(10, 1), (10, 3)]), p),
        lambda s, p, d: _rows(G.components(s, p, as_of_completed=True)),
    ),
}


@pytest.mark.parametrize(
    "family",
    [
        f if f != "dedup" else pytest.param(f, marks=pytest.mark.slow)
        for f in PINNED_READERS
    ],
)
def test_as_of_read_cuts_every_table_at_one_watermark(
    spark, sf_dir, tmp_path, monkeypatch, family
):
    """A stream epoch completing while an as-of reader reads its tables
    must not tear the snapshot: the ledger advances after the reader's
    first ledger read, and the result still equals the one with the
    ledger at rest."""
    build, append, read = PINNED_READERS[family]
    idx = str(tmp_path / "idx")
    build(spark, idx, sf_dir)
    try:
        append(spark, idx, sf_dir)  # batch rows above the build watermark
    finally:
        release_persisted()
    at_rest = read(spark, idx, sf_dir)

    real = indexspec.read_ledger
    calls = {"n": 0}

    def advancing(index_path):
        calls["n"] += 1
        if calls["n"] == 1:
            return real(index_path)
        return {"stream": {"last_epoch": 0, "intent": None, "max_id": 10**9}}

    monkeypatch.setattr(indexspec, "read_ledger", advancing)
    assert read(spark, idx, sf_dir) == at_rest


def test_legacy_dedup_meta_without_id_col(spark, sf_dir, tmp_path):
    """A dedup _meta.json written before ``id_col`` (and ``max_id``) were
    recorded: the id column comes back from the bands files, so a plain
    read from a fresh catalog and the explicit-cutoff rebuild both work."""
    import json
    import os

    from basic_data_pipeline_spark.streaming import rebuild

    built, idx = str(tmp_path / "built"), str(tmp_path / "legacy")
    incremental.build_index(
        spark, _docs(spark, sf_dir, 0, 40), built, n_buckets=2
    )
    shutil.copytree(built, idx)  # never registered in this catalog
    meta_path = os.path.join(idx, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    cutoff = meta.pop("max_id")
    del meta["id_col"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    want = {
        t: _rows(df)
        for t, df in incremental.read_dedup_index(spark, built).items()
    }
    got = incremental.read_dedup_index(spark, idx)
    assert {t: _rows(df) for t, df in got.items()} == want
    rep = rebuild.rebuild_dedup_index(spark, idx, cutoff=cutoff)
    assert rep["cutoff"] == cutoff
    assert {t: r["rows_after"] for t, r in rep["tables"].items()} == {
        t: len(rows) for t, rows in want.items()
    }


def test_write_meta_is_atomic(spark, tmp_path, monkeypatch):
    """A meta write that dies part-way (here: json.dump writes a torn
    prefix, then raises) leaves the previous _meta.json readable."""
    import json

    idx = str(tmp_path / "idx")
    old = {"n_buckets": 4, "id_col": "doc_id", "max_id": 9}
    indexspec.IndexSpec.write_meta(idx, old)

    def torn_dump(obj, f, *a, **kw):
        f.write(json.dumps(obj)[:7])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        indexspec.IndexSpec.write_meta(idx, {**old, "max_id": 99})
    monkeypatch.undo()
    assert indexspec.DEDUP.read_meta(spark, idx) == old
