"""Incremental entity resolution vs the persisted fuzzy-match index
(operators/incremental_entity.py): batch-at-a-time == one-shot, bridge
merges via the alias log, increment-only shuffle on the candidate join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import entity as E
from basic_data_pipeline_spark.operators import incremental_entity as IE

B1 = [
    (1, "acme corp"),
    (2, "globex inc"),
    (3, "initech llc"),
    (4, "acme corpx"),   # 1 edit from 1 -> entity 1
    (5, "datum corp"),
]
B2 = [
    (10, "globex incx"),  # 1 edit from 2 -> entity 2
    (11, "hooli"),        # new entity
    (12, "datum co"),     # 2 edits from 5 -> SEPARATE entity (k=1)
]
B3 = [
    (20, "datum cor"),    # 1 edit from BOTH 5 and 12 -> bridges them
    (21, "zzz systems"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, name string")


def _assignments(df):
    return {r["id"]: r["entity_id"] for r in df.collect()}


def test_incremental_equals_oneshot_with_bridge(spark, tmp_path):
    idx = str(tmp_path / "eidx")
    a1 = _assignments(IE.build_entity_index(spark, _df(spark, B1), idx))
    assert a1 == {1: 1, 2: 2, 3: 3, 4: 1, 5: 5}

    a2 = _assignments(IE.incremental_resolve(spark, _df(spark, B2), idx))
    assert a2 == {10: 2, 11: 11, 12: 12}  # 12 NOT yet merged with 5

    a3 = _assignments(IE.incremental_resolve(spark, _df(spark, B3), idx))
    # 20 bridges entities 5 and 12 -> canonical 5; alias 12 -> 5 recorded
    assert a3 == {20: 5, 21: 21}

    got = _assignments(IE.current_entities(spark, idx))
    want = _assignments(
        E.resolve_entities(_df(spark, B1 + B2 + B3), "id", "name", max_edit=1)
    )
    assert got == want
    assert got[12] == 5  # the bridged entity resolved through the alias


def test_within_batch_chains_cluster(spark, tmp_path):
    idx = str(tmp_path / "eidx")
    IE.build_entity_index(spark, _df(spark, [(1, "unrelated base")]), idx)
    batch = [
        (30, "vandelay ind"),
        (31, "vandelay indu"),   # 1 edit from 30
        (32, "vandelay indus"),  # 1 edit from 31, 2 from 30
    ]
    a = _assignments(IE.incremental_resolve(spark, _df(spark, batch), idx))
    assert a == {30: 30, 31: 30, 32: 30}


def test_empty_match_batch_all_new(spark, tmp_path):
    idx = str(tmp_path / "eidx")
    IE.build_entity_index(spark, _df(spark, B1), idx)
    a = _assignments(
        IE.incremental_resolve(
            spark, _df(spark, [(40, "qqqq"), (41, "wwww")]), idx
        )
    )
    assert a == {40: 40, 41: 41}


def test_candidate_join_index_side_in_place(spark, tmp_path):
    """The candidate equi-join must not exchange the bucketed gram table:
    only the increment side shuffles."""
    idx = str(tmp_path / "eidx")
    IE.build_entity_index(spark, _df(spark, B1), idx)
    meta = IE.SPEC.read_meta(spark, idx)
    grams_t = IE.SPEC.table_name(idx, "grams")
    idx_grams = spark.table(grams_t)
    freq = spark.read.parquet(IE.SPEC.path(idx, "freq"))
    norm = _df(spark, B2).select(
        F.col("id").alias("_id"), F.lower(F.trim(F.col("name"))).alias("_txt")
    )
    pg = IE._prefix_with_frozen_freq(norm, freq, meta["max_edit"], meta["q"])
    # disable broadcast: at real index sizes the join is sort-merge, and
    # the property under test is that the BUCKETED index side needs no
    # exchange there (a tiny test index would otherwise just broadcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = (
            idx_grams.alias("ix")
            .join(
                pg.alias("nw"),
                (F.col("ix.gram") == F.col("nw.gram"))
                & (F.abs(F.col("ix._len") - F.col("nw._len")) <= 1),
            )
            .select(F.col("ix.id"), F.col("nw._id"))
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "SelectedBucketsCount" in plan, "index side must scan buckets"
    # exactly ONE gram-keyed exchange: the increment side. (The index
    # side's bucketed layout satisfies the join's distribution in place;
    # the other exchanges in the plan are the prefix window's _id
    # partitioning on the increment.)
    assert plan.count("Exchange hashpartitioning(gram") == 1, plan


@pytest.mark.slow
def test_alias_chain_resolves_across_generations(spark, tmp_path):
    """entity E2 aliases to E1, later E1 itself merges under an older
    root: current_entities must resolve the 2-deep chain."""
    idx = str(tmp_path / "eidx")
    # ids: 1 oldest ("omega ab"), 3 ("omega cd"), 5 ("omega ef") — all
    # pairwise distance 2 (k=1 keeps them separate)
    IE.build_entity_index(
        spark,
        _df(spark, [(1, "omega ab"), (3, "omega cd"), (5, "omega ef")]),
        idx,
    )
    # bridge 3 and 5 (dist 1 to both): alias 5 -> 3
    a = _assignments(
        IE.incremental_resolve(spark, _df(spark, [(10, "omega cf")]), idx)
    )
    assert a == {10: 3}
    # now bridge 1 and 3: alias 3 -> 1; chain 5 -> 3 -> 1 must resolve
    a = _assignments(
        IE.incremental_resolve(spark, _df(spark, [(20, "omega ad")]), idx)
    )
    assert a == {20: 1}
    got = _assignments(IE.current_entities(spark, idx))
    assert got == {1: 1, 3: 1, 5: 1, 10: 1, 20: 1}
