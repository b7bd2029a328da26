"""Storage lifetime (caching.py). DataFrame.unpersist is a NO-OP for
localCheckpoint storage (the motivating bug — blocks accumulate across
BPE/GD iterations), while free_local_checkpoint actually releases the
blocks. Every operator's storage is back to its pre-call set after
release_persisted, on success and on a raise, and no module outside
caching.py takes or frees storage itself.

Assertions are SET-DIFF based, never total-count based: earlier tests in
a full-suite run leak checkpoint blocks that the JVM garbage-collects at
its own pace, so a total census taken twice can shrink between the two
reads for reasons unrelated to the frame under test (observed r11: a
before-count of 11 dropped to 3 mid-test). Diffing the cached-RDD id
sets pins exactly the blocks THIS test created — those can't be GC'd
while the frame is referenced — and ignores concurrent reclamation of
strangers' blocks.
"""

from __future__ import annotations

import io
import os
import tokenize

import pytest

from basic_data_pipeline_spark.caching import (
    free_local_checkpoint,
    release_persisted,
    tracked_local_checkpoint,
)


def _cached_ids(spark) -> set[int]:
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_plain_unpersist_is_noop_for_checkpoints(spark):
    before = _cached_ids(spark)
    df = spark.range(50_000).selectExpr("id", "id * 2 AS x").localCheckpoint(
        eager=True
    )
    new = _cached_ids(spark) - before
    assert len(new) == 1
    df.unpersist(blocking=True)
    # the documented trap: nothing was freed
    assert new <= _cached_ids(spark)
    free_local_checkpoint(df)  # not a cut taken by caching: safe no-op
    assert new <= _cached_ids(spark)


def test_tracked_checkpoint_frees_for_real(spark):
    before = _cached_ids(spark)
    df = tracked_local_checkpoint(
        spark.range(50_000).selectExpr("id", "id * 3 AS x")
    )
    assert df.count() == 50_000
    new = _cached_ids(spark) - before
    assert len(new) == 1
    free_local_checkpoint(df)
    assert not (new & _cached_ids(spark))
    # double-free is harmless
    free_local_checkpoint(df)
    assert not (new & _cached_ids(spark))


def test_iteration_storage_stays_bounded(spark):
    """The BPE/GD loop shape: N rounds of checkpoint-and-release hold at
    most one round's blocks."""
    before = _cached_ids(spark)
    prev = tracked_local_checkpoint(spark.range(10_000))
    for i in range(4):
        cur = tracked_local_checkpoint(
            prev.selectExpr(f"id + {i} AS id")
        )
        free_local_checkpoint(prev)
        prev = cur
        mine = _cached_ids(spark) - before
        assert len(mine) == 1
    free_local_checkpoint(prev)
    assert not ((_cached_ids(spark) - before))


# --- one owner: every operator's storage is back after release ----------

# a 4-node clique with a tail: coreness needs 3 rounds to settle, so
# max_iters=1 raises CorenessNotConverged
K4_TAIL = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
           ("c", "d"), ("d", "e")]
DOCS = [(i, f"the quick brown fox {i % 3} jumps over the lazy dog {i}")
        for i in range(20)]


def _persistent_ids(spark) -> set[int]:
    """Ids of every persisted RDD, read synchronously from the driver's
    registry (the block-status listing lags behind it)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _graph(spark):
    return spark.createDataFrame(K4_TAIL, "src string, dst string")


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _pagerank(spark, tmp_path):
    from basic_data_pipeline_spark.operators import linkgraph as LG

    LG.pagerank(_graph(spark), iterations=1).collect()


def _hits(spark, tmp_path):
    from basic_data_pipeline_spark.operators import linkgraph as LG

    LG.hits(_graph(spark), iterations=1).collect()


def _lpa(spark, tmp_path):
    from basic_data_pipeline_spark.operators import linkgraph as LG

    LG.label_propagation(_graph(spark), iterations=1).collect()


def _coreness(spark, tmp_path):
    from basic_data_pipeline_spark.operators import linkgraph as LG

    LG.coreness(_graph(spark)).collect()


def _coreness_not_converged(spark, tmp_path):
    from basic_data_pipeline_spark.operators import linkgraph as LG

    with pytest.raises(LG.CorenessNotConverged):
        LG.coreness(_graph(spark), max_iters=1)


def _bpe(spark, tmp_path):
    from basic_data_pipeline_spark.operators import bpe

    assert bpe.train_bpe(_docs(spark), "text", n_merges=1)


def _pack(spark, tmp_path):
    from pyspark.sql import functions as F

    from basic_data_pipeline_spark.operators import packing

    packing.pack_sequences(
        _docs(spark), "doc_id", F.length("text"), 64, parts=2
    ).collect()


def _cdc_sink_raises(spark, tmp_path):
    from basic_data_pipeline_spark.operators import cdc
    from basic_data_pipeline_spark.sources.envelopes import (
        employee_workload,
        envelopes_to_df,
    )

    class FailingSink(cdc.SinkTable):
        def append(self, batch):
            raise OSError("sink write failed")

    raw = envelopes_to_df(spark, employee_workload(5, 10, seed=3))
    with pytest.raises(OSError, match="sink write failed"):
        cdc.apply_cdc_batch(
            spark, raw, str(tmp_path),
            sink_factory=lambda name: FailingSink(spark, str(tmp_path), name),
        )


@pytest.mark.parametrize(
    "case",
    [_pagerank, _hits, _lpa, _coreness, _coreness_not_converged, _bpe,
     _pack, _cdc_sink_raises],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_release_returns_storage_to_pre_call_set(spark, tmp_path, case):
    """After the call (success or raise) and release_persisted(), the
    persisted-RDD set is back to what it was before the call: a scope
    frees the operator's intermediates on every exit, and its result has
    session lifetime."""
    release_persisted()
    before = _persistent_ids(spark)
    case(spark, tmp_path)
    release_persisted()
    assert not (_persistent_ids(spark) - before)


# --- CI guard: storage is taken and freed only through caching.py --------

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "basic_data_pipeline_spark",
)


def _storage_calls(source: str) -> list[str]:
    """`.persist(`/`.unpersist(` calls not made on a `held()` scope
    handle, and every `localCheckpoint(`/`free_local_checkpoint(` call,
    found by tokens (comments and strings do not count)."""
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type in (tokenize.NAME, tokenize.OP)
    ]
    scopes = {
        toks[i + 4].string
        for i in range(len(toks) - 4)
        if [t.string for t in toks[i:i + 4]] == ["held", "(", ")", "as"]
    }
    found = []
    for i in range(1, len(toks) - 1):
        name, nxt = toks[i].string, toks[i + 1].string
        if nxt != "(":
            continue
        if name in ("localCheckpoint", "free_local_checkpoint"):
            found.append(f"{toks[i].start[0]}: {name}(")
        elif (
            name in ("persist", "unpersist")
            and toks[i - 1].string == "."
            and toks[i - 2].string not in scopes
        ):
            found.append(f"{toks[i].start[0]}: .{name}(")
    return found


def test_storage_is_acquired_and_released_only_in_caching():
    offenders = {}
    for root, _, files in os.walk(_PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(_PKG, "caching.py"):
                continue
            with open(path) as fh:
                calls = _storage_calls(fh.read())
            if calls:
                offenders[os.path.relpath(path, _PKG)] = calls
    assert not offenders, offenders


def test_storage_guard_sees_calls():
    src = (
        "a = df.persist()\n"
        "# df.unpersist() in a comment\n"
        "with caching.held() as h:\n"
        "    b = h.persist(df)\n"
        "c = df.localCheckpoint(eager=True)\n"
    )
    assert _storage_calls(src) == ["1: .persist(", "5: localCheckpoint("]
