"""Incremental substring dedup vs the persisted gram index
(operators/incremental_substring.py) and its streaming twin
(streaming/dedup_stream.py): batch-at-a-time == one-shot, increment-
only shuffle on the membership join, ledger-guarded replay/crash."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import incremental_substring as IS
from basic_data_pipeline_spark.operators import substring
from basic_data_pipeline_spark.streaming import dedup_stream

K = 4


def _mk(i: int, n: int) -> str:
    x = i
    out = []
    for _ in range(n):
        x = (x * 48271 + 11) % (2**31)
        out.append(f"w{x % 60}")
    return " ".join(out)


SPAN = _mk(999, 12)
B0 = [(1, _mk(1, 30) + " " + SPAN), (2, _mk(2, 30)), (3, _mk(3, 25))]
B1 = [(10, SPAN + " " + _mk(4, 20)), (11, _mk(5, 22))]   # 10 loses SPAN
B2 = [(20, _mk(4, 20)), (21, SPAN)]  # 20 repeats doc 10's tail; 21 vanishes


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _texts(df):
    return {r["doc_id"]: r["text"] for r in df.collect()}


def test_batch_at_a_time_equals_oneshot(spark, tmp_path):
    idx = str(tmp_path / "sidx")
    out0 = _texts(IS.build_substring_index(spark, _df(spark, B0), idx, k=K))
    out1 = _texts(IS.incremental_substring_dedup(spark, _df(spark, B1), idx))
    out2 = _texts(IS.incremental_substring_dedup(spark, _df(spark, B2), idx))
    got = {**out0, **out1, **out2}
    want = _texts(
        substring.substring_dedup_corpus(_df(spark, B0 + B1 + B2), k=K)
    )
    assert got == want
    # the cross-batch casualties actually happened
    assert SPAN in got[1] and SPAN not in got[10]
    assert 21 not in got  # whole doc was one already-seen span
    assert 20 not in got  # doc 20 IS doc 10's (indexed) tail — fully covered


def test_new_gram_within_batch_first_survives(spark, tmp_path):
    idx = str(tmp_path / "sidx")
    IS.build_substring_index(spark, _df(spark, [(1, _mk(7, 20))]), idx, k=K)
    phrase = _mk(8, 10)
    batch = [(10, phrase + " " + _mk(9, 15)), (11, phrase)]
    got = _texts(IS.incremental_substring_dedup(spark, _df(spark, batch), idx))
    assert phrase in got[10]  # batch-local first occurrence kept
    assert 11 not in got      # later in-batch copy fully covered


def test_string_doc_ids_round_trip(spark, tmp_path):
    """The gram index keeps the id column's NATIVE type: string doc ids
    must work end to end (a hard-coded BIGINT doc column would NULL
    them out on write and break the first-occurrence rule silently)."""
    idx = str(tmp_path / "sidx")
    b0 = spark.createDataFrame(
        [("a-1", _mk(1, 25) + " " + SPAN)], "doc_id string, text string"
    )
    b1 = spark.createDataFrame(
        [("b-1", SPAN + " " + _mk(6, 18)), ("b-2", _mk(7, 18))],
        "doc_id string, text string",
    )
    IS.build_substring_index(spark, b0, idx, k=K)
    got = _texts(IS.incremental_substring_dedup(spark, b1, idx))
    assert SPAN not in got["b-1"]  # cross-batch removal worked
    assert got["b-2"] == _mk(7, 18)
    # and the index's doc column is a string, holding real ids
    schema = dict(spark.read.parquet(f"{idx}/grams").dtypes)
    assert schema["doc"] == "string"
    docs = {
        r["doc"]
        for r in spark.read.parquet(f"{idx}/grams").select("doc").distinct().collect()
    }
    assert None not in docs and "a-1" in docs


def test_membership_join_index_side_in_place(spark, tmp_path):
    """The gram-membership joins must not exchange the bucketed index:
    only the increment side shuffles to the bucket layout."""
    idx = str(tmp_path / "sidx")
    IS.build_substring_index(spark, _df(spark, B0), idx, k=K)
    meta = IS.SPEC.read_meta(spark, idx)
    grams = IS.SPEC.register(spark, idx, "grams", meta)
    occ = substring.gram_occurrences(_df(spark, B1), k=K)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = occ.join(grams, "gram", "left_semi")
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SelectedBucketsCount" in plan, plan
    assert plan.count("Exchange hashpartitioning(gram") == 1, plan


@pytest.mark.slow
def test_stream_equals_batch_with_replay_and_crash(spark, tmp_path):
    idx_s = str(tmp_path / "idx_s")
    idx_b = str(tmp_path / "idx_b")
    out = str(tmp_path / "out")
    IS.build_substring_index(spark, _df(spark, B0), idx_s, k=K)
    IS.build_substring_index(spark, _df(spark, B0), idx_b, k=K)

    fn = dedup_stream.run_substring_batches(
        spark, [_df(spark, B1), _df(spark, B2)], idx_s, out
    )
    got = _texts(spark.read.parquet(f"{out}/epoch=*"))
    want = {}
    for rows in (B1, B2):
        want |= _texts(
            IS.incremental_substring_dedup(spark, _df(spark, rows), idx_b)
        )
    assert got == want

    # replay of a completed epoch: index untouched, output unchanged
    n_grams = spark.read.parquet(f"{idx_s}/grams").count()
    fn(_df(spark, B1), 0)
    assert spark.read.parquet(f"{idx_s}/grams").count() == n_grams
    assert _texts(spark.read.parquet(f"{out}/epoch=*")) == got

    # stale intent marker: refuse loudly
    lp = dedup_stream._ledger_path(idx_s)
    with open(lp) as f:
        ledger = json.load(f)
    ledger["stream"]["intent"] = 7
    with open(lp, "w") as f:
        json.dump(ledger, f)
    with pytest.raises(dedup_stream.DirtyIndexError):
        fn(_df(spark, B2), 9)


def test_streaming_engine_end_to_end(spark, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    IS.build_substring_index(spark, _df(spark, B0), idx, k=K)
    os.makedirs(src)
    for i, rows in enumerate((B1, B2)):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for did, txt in rows:
                f.write(json.dumps({"doc_id": did, "text": txt}) + "\n")
    q = dedup_stream.substring_files(
        spark, src, idx, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = _texts(spark.read.parquet(f"{out}/epoch=*"))
    assert SPAN not in got.get(10, "")
    assert 21 not in got


def test_stream_epoch_frees_checkpoint_storage(spark, tmp_path):
    """The r7-ADVICE leak: incremental_substring_dedup localCheckpoints
    two frames per micro-batch, and plain unpersist is a no-op for
    checkpoint blocks — a long-lived stream accumulated them until
    driver GC. The builder frees its intermediates on return and keeps
    its result with session lifetime, which the skeleton's end-of-epoch
    release_persisted frees, so persistent-RDD storage returns to its
    pre-epoch level after every completed epoch."""
    import time

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    IS.build_substring_index(spark, _df(spark, B0), idx, k=K)
    fn = dedup_stream.make_substring_batch_fn(idx, out)

    def n_stored():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base_n = n_stored()
    for i, rows in enumerate((B1, B2)):
        fn(_df(spark, rows), i)
        # unpersist is async; poll briefly before asserting
        for _ in range(20):
            if n_stored() <= base_n:
                break
            time.sleep(0.25)
        assert n_stored() <= base_n, (
            f"epoch {i} leaked persistent RDD storage: "
            f"{n_stored()} > {base_n}"
        )
