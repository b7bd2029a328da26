"""Property-based fuzz of the guarded-stream ledger machinery
(streaming/dedup_stream.make_guarded_batch_fn + streaming/rebuild.py)
across ALL FOUR index streams — dedup, entity resolution, substring
dedup, and BM25 retrieval.

Hypothesis draws a random document/record sequence, a random split into
micro-batches, and a random crash injection point (which epoch, which
index write inside the epoch, and whether the write lands before the
crash). The property: the stream NEVER silently diverges — every crash
surfaces as DirtyIndexError on replay, the matching rebuild helper
recovers, and the resumed stream's epoch outputs (and, for entity, the
maintained resolution) are IDENTICAL to a clean uninterrupted run of the
same batch sequence.

Each example is a full Spark pipeline (two index builds + all batches
twice), so max_examples stays modest by default; raise
SPARK_GRAFT_FUZZ_EXAMPLES for a deeper soak (the round-8 done-criterion
ran with 42+ total examples across the three families)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

#: slow tier (r12): property-based crash/replay fuzz of the lease+ledger protocol; the contract's fast representatives live in test_swapstore_lease.py
pytestmark = pytest.mark.slow
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import incremental, retrieval
from basic_data_pipeline_spark.operators import incremental_entity as IE
from basic_data_pipeline_spark.operators import incremental_retrieval as IR
from basic_data_pipeline_spark.operators import incremental_substring as IS
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.sources import tables
from basic_data_pipeline_spark.streaming import dedup_stream, rebuild

N_EX = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "4"))
_SET = dict(
    max_examples=N_EX, deadline=None, suppress_health_check=list(HealthCheck)
)


class _Boom(RuntimeError):
    pass


class _CrashInjector:
    """Patch tables.write_bucketed so its ``n_target``-th call dies —
    optionally AFTER the write completed (a genuinely partial append)
    or BEFORE it ran (intent set, index untouched)."""

    def __init__(self, n_target: int, write_first: bool):
        self.real = tables.write_bucketed
        self.n_target = n_target
        self.write_first = write_first
        self.calls = 0

    def __enter__(self):
        def w(*a, **kw):
            self.calls += 1
            if self.calls == self.n_target:
                if self.write_first:
                    self.real(*a, **kw)
                raise _Boom("injected crash")
            return self.real(*a, **kw)

        tables.write_bucketed = w
        return self

    def __exit__(self, *exc):
        tables.write_bucketed = self.real
        return False


def _drive(spark, batches, make_fn, build, rebuild_fn, crash,
           asof_rows=None):
    """Run the batch sequence twice — once with the injected crash +
    DirtyIndexError + rebuild + replay, once clean — and return both
    runs' (epoch-output rows, index dir). Never-silent-divergence is the
    caller's comparison of the two.

    ``asof_rows`` (r11, optional): (spark, idx, pinned) -> sorted rows —
    the family's snapshot reader (operators/indexspec.py). At every
    crash point the fuzzer then also asserts the SHARP read-isolation
    equivalence: the as-of read over the DIRTY index (partial epoch on
    disk, intent set) equals the plain read after the rebuild — i.e.
    the watermark filter predicts the rebuild's surgical result
    exactly, at any crash point hypothesis finds."""
    roots = []
    results = []
    for do_crash in (True, False):
        tmpd = tempfile.mkdtemp(prefix="fuzz_ledger_")
        roots.append(tmpd)
        idx, out = os.path.join(tmpd, "idx"), os.path.join(tmpd, "out")
        build(idx)
        fn = make_fn(idx, out)
        for i, b in enumerate(batches):
            if do_crash and crash is not None and crash[0] == i:
                inj = _CrashInjector(crash[1], crash[2])
                crashed = False
                with inj:
                    try:
                        fn(b, i)
                    except _Boom:
                        crashed = True
                if crashed:
                    pre = (
                        asof_rows(spark, idx, True)
                        if asof_rows is not None
                        else None
                    )
                    # the contract: a crashed epoch NEVER silently
                    # continues — replay must refuse…
                    with pytest.raises(dedup_stream.DirtyIndexError):
                        fn(b, i)
                    # …until the rebuild helper recovers the index
                    rebuild_fn(spark, idx, out_root=out)
                    if pre is not None:
                        assert asof_rows(spark, idx, False) == pre, (
                            "as-of read on the dirty index != plain "
                            "read after rebuild — the watermark filter "
                            "and the rebuild cut disagree"
                        )
                    fn(b, i)
                # if n_target exceeded the epoch's write count the crash
                # never fired — the epoch completed normally; fine
            else:
                fn(b, i)
        rows = sorted(
            map(tuple, spark.read.parquet(f"{out}/epoch=*").collect())
        )
        ledger = indexspec.read_ledger(idx)["stream"]
        assert ledger["last_epoch"] == len(batches) - 1
        assert ledger["intent"] is None
        results.append((rows, idx))
    return results


# --- r11: family snapshot readers for the as-of == rebuild equivalence ---

def _asof_dedup(spark, idx, pinned):
    t = incremental.read_dedup_index(spark, idx, as_of_completed=pinned)
    return [
        sorted(map(tuple, t["bands"].collect())),
        sorted(map(tuple, t["shingles"].collect())),
    ]


def _asof_substring(spark, idx, pinned):
    return sorted(
        map(
            tuple,
            IS.read_substring_index(
                spark, idx, as_of_completed=pinned
            ).collect(),
        )
    )


def _asof_entity(spark, idx, pinned):
    return sorted(
        map(
            tuple,
            IE.current_entities(spark, idx, as_of_completed=pinned).collect(),
        )
    )


def _asof_graph(spark, idx, pinned):
    from basic_data_pipeline_spark.operators import incremental_linkgraph as IG

    return [
        sorted(
            map(
                tuple,
                IG.graph_edges(spark, idx, as_of_completed=pinned).collect(),
            )
        ),
        sorted(
            map(
                tuple,
                IG.components(spark, idx, as_of_completed=pinned).collect(),
            )
        ),
    ]


def _cleanup(paths):
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# --- shared strategy pieces ---------------------------------------------

def _splits(n_items: int):
    """Random split of range(n_items) into 1-4 contiguous batches."""
    return st.lists(
        st.integers(min_value=1, max_value=n_items - 1),
        min_size=0, max_size=3, unique=True,
    ).map(lambda cuts: sorted(cuts))


_CRASH = st.one_of(
    st.none(),
    st.tuples(
        st.integers(min_value=0, max_value=3),   # epoch to crash in
        st.integers(min_value=1, max_value=2),   # which index write
        st.booleans(),                           # write lands first?
    ),
)


def _batchify(df_rows, cuts, mk):
    bounds = [0] + list(cuts) + [len(df_rows)]
    out = []
    for lo, hi in zip(bounds, bounds[1:]):
        if hi > lo:
            out.append(mk(df_rows[lo:hi]))
    return out


# --- dedup ---------------------------------------------------------------

_BASE_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "machine learning systems require careful data curation at scale",
    "a completely different sentence about gardening tools and soil",
]
# stream pool: near-dups of the base (one token changed) + fresh docs
_STREAM_POOL = [
    "the quick brown fox jumps over the lazy dog near the river edge",
    "machine learning systems require careful data curation at speed",
    "a completely different sentence about gardening tools and seeds",
    "totally novel content one about astronomy telescopes and lenses",
    "totally novel content two about maritime navigation and charts",
    "yet another unique document concerning medieval castle moats",
]


@given(
    picks=st.lists(
        st.integers(min_value=0, max_value=len(_STREAM_POOL) - 1),
        min_size=4, max_size=8,
    ),
    cuts=_splits(4),
    crash=_CRASH,
)
@settings(**_SET)
def test_fuzz_dedup_stream_crash_recovery(spark, picks, cuts, crash):
    cuts = [c for c in cuts if c < len(picks)]
    rows = [
        (100 + i, _STREAM_POOL[p] + f" tail{i % 2}")
        for i, p in enumerate(picks)
    ]
    batches = _batchify(
        rows, cuts,
        lambda rs: spark.createDataFrame(rs, "doc_id long, text string"),
    )
    base = spark.createDataFrame(
        list(enumerate(_BASE_TEXTS)), "doc_id long, text string"
    )
    gen = _drive(
        spark, batches,
        lambda idx, out: dedup_stream.make_dedup_batch_fn(
            idx, out, threshold=0.4
        ),
        lambda idx: incremental.build_index(
            spark, base, idx, threshold=0.4
        ),
        rebuild.rebuild_dedup_index,
        crash,
        asof_rows=_asof_dedup,
    )
    (crashed_rows, i1), (clean_rows, i2) = gen
    assert crashed_rows == clean_rows
    _cleanup([os.path.dirname(i1), os.path.dirname(i2)])


# --- substring -----------------------------------------------------------

_SPAN = "alpha beta gamma delta epsilon zeta"
_SUB_POOL = [
    f"prefix one {_SPAN} suffix one",
    f"prefix two {_SPAN} suffix two",
    "wholly original words without any repeated span at all here",
    f"start {_SPAN} middle {_SPAN} end",
    "another independent document with its own vocabulary entirely",
]


@given(
    picks=st.lists(
        st.integers(min_value=0, max_value=len(_SUB_POOL) - 1),
        min_size=4, max_size=8,
    ),
    cuts=_splits(4),
    crash=_CRASH,
)
@settings(**_SET)
def test_fuzz_substring_stream_crash_recovery(spark, picks, cuts, crash):
    cuts = [c for c in cuts if c < len(picks)]
    rows = [(100 + i, _SUB_POOL[p]) for i, p in enumerate(picks)]
    batches = _batchify(
        rows, cuts,
        lambda rs: spark.createDataFrame(rs, "doc_id long, text string"),
    )
    base = spark.createDataFrame(
        [(0, f"base document holding {_SPAN} the first occurrence"),
         (1, "unrelated base filler text with nothing shared")],
        "doc_id long, text string",
    )
    gen = _drive(
        spark, batches,
        dedup_stream.make_substring_batch_fn,
        lambda idx: IS.build_substring_index(spark, base, idx, k=4),
        rebuild.rebuild_substring_index,
        crash,
        asof_rows=_asof_substring,
    )
    (crashed_rows, i1), (clean_rows, i2) = gen
    assert crashed_rows == clean_rows
    _cleanup([os.path.dirname(i1), os.path.dirname(i2)])


# --- entity --------------------------------------------------------------

_NAME_POOL = [
    "acme corpx", "globex incx", "datum co", "datum cor", "hooli",
    "initech llcx", "zzz systems", "acme corp co",
]


@given(
    picks=st.lists(
        st.integers(min_value=0, max_value=len(_NAME_POOL) - 1),
        min_size=3, max_size=6, unique=True,
    ),
    cuts=_splits(3),
    crash=_CRASH,
)
@settings(**_SET)
def test_fuzz_entity_stream_crash_recovery(spark, picks, cuts, crash):
    cuts = [c for c in cuts if c < len(picks)]
    rows = [(100 + i, _NAME_POOL[p]) for i, p in enumerate(picks)]
    batches = _batchify(
        rows, cuts,
        lambda rs: spark.createDataFrame(rs, "id long, name string"),
    )
    base = spark.createDataFrame(
        [(1, "acme corp"), (2, "globex inc"), (3, "initech llc"),
         (5, "datum corp")],
        "id long, name string",
    )
    gen = _drive(
        spark, batches,
        dedup_stream.make_entity_batch_fn,
        lambda idx: IE.build_entity_index(spark, base, idx),
        rebuild.rebuild_entity_index,
        crash,
        asof_rows=_asof_entity,
    )
    (crashed_rows, i1), (clean_rows, i2) = gen
    assert crashed_rows == clean_rows
    # the maintained resolution (strings + alias log) agrees too
    a = sorted(map(tuple, IE.current_entities(spark, i1).collect()))
    b = sorted(map(tuple, IE.current_entities(spark, i2).collect()))
    assert a == b
    _cleanup([os.path.dirname(i1), os.path.dirname(i2)])


# --- retrieval -----------------------------------------------------------

_RETR_POOL = [
    "spark shuffle join broadcast join window",
    "shuffle shuffle skew salt repartition",
    "broadcast dim table join spark catalyst",
    "the quick brown fox over the lazy dog",
    "entirely novel vocabulary about telescopes",
    "maritime navigation charts and sextants",
]


@given(
    picks=st.lists(
        st.integers(min_value=0, max_value=len(_RETR_POOL) - 1),
        min_size=4, max_size=8,
    ),
    cuts=_splits(4),
    crash=_CRASH,
)
@settings(**_SET)
def test_fuzz_retrieval_stream_crash_recovery(spark, picks, cuts, crash):
    """Beyond never-silent-divergence of the epoch outputs, the
    recovered index must answer EXACTLY like the one-shot operator over
    base + all streamed batches — a crash that survived into df counts
    or corpus stats would corrupt every future score, so the equality
    check covers all three appended tables at once."""
    cuts = [c for c in cuts if c < len(picks)]
    rows = [(100 + i, _RETR_POOL[p]) for i, p in enumerate(picks)]
    batches = _batchify(
        rows, cuts,
        lambda rs: spark.createDataFrame(rs, "doc_id long, text string"),
    )
    base_rows = [(0, "spark join baseline document"),
                 (1, "unrelated base filler text")]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    gen = _drive(
        spark, batches,
        dedup_stream.make_retrieval_batch_fn,
        lambda idx: IR.build_retrieval_index(spark, base, idx),
        rebuild.rebuild_retrieval_index,
        crash,
    )
    (crashed_rows, i1), (clean_rows, i2) = gen
    assert crashed_rows == clean_rows
    q = spark.createDataFrame(
        [(900, "spark join shuffle"), (901, "fox charts")],
        "query_id long, query_text string",
    )
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"], str(r["score"]))
        for r in IR.search_retrieval_index(spark, q, i1, 4).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"], str(r["score"]))
        for r in retrieval.bm25_topk(
            spark.createDataFrame(
                base_rows + rows, "doc_id long, text string"
            ),
            q, 4,
        ).collect()
    }
    assert got == want
    _cleanup([os.path.dirname(i1), os.path.dirname(i2)])


# --- link graph ------------------------------------------------------------

# dst pool mixes base nodes (component merges), fresh never-seen nodes,
# and "forward" references to pages not yet crawled — every structural
# case the incremental WCC maintenance handles
_GRAPH_DSTS = [0, 1, 4, 777, 888, 150, 151]
_GRAPH_BASE = [(0, 1), (1, 2), (3, 4)]


@given(
    picks=st.lists(
        st.integers(min_value=0, max_value=len(_GRAPH_DSTS) - 1),
        min_size=4, max_size=8,
    ),
    cuts=_splits(4),
    crash=_CRASH,
)
@settings(**_SET)
def test_fuzz_graph_stream_crash_recovery(spark, picks, cuts, crash):
    """Beyond never-silent-divergence of the per-epoch resolved
    outputs, the recovered index's component view must equal the batch
    connected_components over base + every streamed edge — a crash that
    survived into the labels table or merge log would mislabel every
    future lookup in the affected components."""
    from basic_data_pipeline_spark.operators import (
        incremental_linkgraph as G,
        linkgraph as LG,
    )

    cuts = [c for c in cuts if c < len(picks)]
    # srcs monotone across the sequence (the crawl convention the
    # rebuild watermark cut relies on)
    rows = [(100 + i, _GRAPH_DSTS[p]) for i, p in enumerate(picks)]
    batches = _batchify(
        rows, cuts,
        lambda rs: spark.createDataFrame(rs, "src long, dst long"),
    )
    base = spark.createDataFrame(_GRAPH_BASE, "src long, dst long")
    gen = _drive(
        spark, batches,
        dedup_stream.make_graph_batch_fn,
        lambda idx: G.build_graph_index(spark, base, idx),
        rebuild.rebuild_graph_index,
        crash,
        asof_rows=_asof_graph,
    )
    (crashed_rows, i1), (clean_rows, i2) = gen
    assert crashed_rows == clean_rows
    got = {
        (r["node"], r["component"])
        for r in G.components(spark, i1).collect()
    }
    want = {
        (r["node"], r["component"])
        for r in LG.connected_components(
            spark.createDataFrame(
                _GRAPH_BASE + rows, "src long, dst long"
            )
        ).collect()
    }
    assert got == want
    _cleanup([os.path.dirname(i1), os.path.dirname(i2)])
