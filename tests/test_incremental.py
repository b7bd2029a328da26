"""Incremental-dedup tests: batch-at-a-time must match full-corpus dedup
on the fixture (whose planted near-dups are disjoint pairs, so the greedy
chain caveat documented in operators/incremental.py does not bite), and
the index must make cross-batch duplicates drop without re-reading corpus
text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators import dedup, incremental

SF_DIR = "/root/testdata/sf0.001"
THRESH = 0.5


def _full_survivors(docs):
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    pairs = dedup.jaccard_pairs(sh, "doc_id", THRESH)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return {
        r["doc_id"] for r in docs.join(dropped, "doc_id", "left_anti").collect()
    }


def test_incremental_matches_full_dedup(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    cut = 250
    b1 = docs.filter(F.col("doc_id") < cut)
    b2 = docs.filter(F.col("doc_id") >= cut)

    idx = str(tmp_path / "dedup_index")
    s1 = incremental.build_index(spark, b1, idx)
    s2 = incremental.incremental_dedup(spark, b2, idx)
    got = {r["doc_id"] for r in s1.collect()} | {
        r["doc_id"] for r in s2.collect()
    }

    expected = _full_survivors(docs)
    assert got == expected

    # the planted dups must actually exercise BOTH paths: some dropped
    # within a batch, and the index must be non-trivial
    assert len(expected) < docs.count()
    assert spark.read.parquet(f"{idx}/bands").count() > 0


def test_incremental_drops_cross_batch_duplicate(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") < 100)
    idx = str(tmp_path / "idx")
    incremental.build_index(spark, b1, idx)

    # clone an indexed doc under a new id: must be dropped; a fresh
    # unique doc must survive and join the index
    clone = b1.filter(F.col("doc_id") == 7).select(
        F.lit(900001).alias("doc_id"),
        "text",
        *[c for c in b1.columns if c not in ("doc_id", "text")],
    )
    fresh = spark.createDataFrame(
        [(900002, "utterly unique words never seen in the fixture corpus")],
        "doc_id long, text string",
    )
    newb = clone.select("doc_id", "text").unionByName(fresh)

    before = spark.read.parquet(f"{idx}/bands").select("doc_id").distinct().count()
    surv = incremental.incremental_dedup(spark, newb, idx)
    ids = {r["doc_id"] for r in surv.collect()}
    assert ids == {900002}
    after = spark.read.parquet(f"{idx}/bands").select("doc_id").distinct().count()
    assert after == before + 1


def test_incremental_cross_join_shuffles_only_increment_side(spark, tmp_path):
    """The scale contract of the bucketed index: the cross-candidate join
    reads the index bands IN PLACE (bucketed scan, no Exchange on that
    side) and exchanges only the increment's bands. Broadcast is disabled
    so the assertion pins the sort-merge plan — the one whose scaling
    matters when neither side is small."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") < 100)
    b2 = docs.filter(F.col("doc_id").between(100, 150))
    idx = str(tmp_path / "idx")
    incremental.build_index(spark, b1, idx)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        idx_bands, _, _ = incremental._index_tables(spark, idx)
        new_sh = dedup.word_shingles(b2, "doc_id", "text")
        new_bands = dedup.lsh_bands(
            dedup.minhash_signatures(new_sh, "doc_id"), "doc_id"
        )
        cross = incremental._cross_candidates(idx_bands, new_bands, "doc_id")
        plan = cross._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert "SortMergeJoin" in plan
    # left ( ":-" ) subtree of the join = the index side
    lines = plan.splitlines()
    join_at = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
    left = []
    for l in lines[join_at + 1 :]:
        if not l.lstrip().startswith(":"):
            break  # first non-":"-prefixed line = the right (increment) child
        left.append(l)
    assert any("Bucketed: true" in l for l in left), "\n".join(left)
    assert not any("Exchange" in l for l in left), "\n".join(left)


# deterministic transitive chain a~b, b~c, a≁c: block construction
# (a = S1+S2, b = S1+S2+S3, c = S2+S3 → J(a,b)=J(b,c)=0.659,
# J(a,c)=0.318) with a word seed verified to collide in LSH band space
# under the fixed md5 family for BOTH chain pairs.
def _chain_docs():
    blk = lambda s: " ".join(f"{s}tok{i}" for i in range(30))  # noqa: E731
    s1, s2, s3 = blk("a5"), blk("b5"), blk("c5")
    return (s1 + " " + s2, s1 + " " + s2 + " " + s3, s2 + " " + s3)


@pytest.mark.slow
def test_incremental_cluster_policy_resolves_cross_batch_chain(spark, tmp_path):
    """survivor_policy='cluster': the index retains dropped docs'
    bands/shingles, so a transitive chain arriving ACROSS batches keeps
    exactly one survivor (b drops against a in batch 2; c still finds b
    in the index and drops in batch 3, even though J(a,c) < threshold)."""
    a, b, c = _chain_docs()
    idx = str(tmp_path / "idx")
    d1 = spark.createDataFrame([(1, a)], "doc_id long, text string")
    s1 = incremental.build_index(spark, d1, idx, survivor_policy="cluster")
    assert {r["doc_id"] for r in s1.collect()} == {1}

    d2 = spark.createDataFrame([(2, b)], "doc_id long, text string")
    s2 = incremental.incremental_dedup(spark, d2, idx)
    assert {r["doc_id"] for r in s2.collect()} == set()

    d3 = spark.createDataFrame([(3, c)], "doc_id long, text string")
    s3 = incremental.incremental_dedup(spark, d3, idx)
    assert {r["doc_id"] for r in s3.collect()} == set()  # one survivor: a


@pytest.mark.slow
def test_incremental_greedy_policy_keeps_chain_tail(spark, tmp_path):
    """The documented greedy divergence on the same chain: the index holds
    only survivors, so c finds no partner in batch 3 and survives."""
    a, b, c = _chain_docs()
    idx = str(tmp_path / "idx")
    d1 = spark.createDataFrame([(1, a)], "doc_id long, text string")
    incremental.build_index(spark, d1, idx, survivor_policy="greedy")

    d2 = spark.createDataFrame([(2, b)], "doc_id long, text string")
    s2 = incremental.incremental_dedup(spark, d2, idx)
    assert {r["doc_id"] for r in s2.collect()} == set()

    d3 = spark.createDataFrame([(3, c)], "doc_id long, text string")
    s3 = incremental.incremental_dedup(spark, d3, idx)
    assert {r["doc_id"] for r in s3.collect()} == {3}


def test_incremental_string_ids(spark, tmp_path):
    """The dropped-id materialization derives its schema from the input —
    string doc ids must work end-to-end (build, increment, index append)."""
    a, b, _ = _chain_docs()
    idx = str(tmp_path / "idx")
    d1 = spark.createDataFrame(
        [("doc-a", a), ("doc-x", "entirely unrelated words forever alone")],
        "doc_id string, text string",
    )
    s1 = incremental.build_index(spark, d1, idx)
    assert {r["doc_id"] for r in s1.collect()} == {"doc-a", "doc-x"}

    d2 = spark.createDataFrame(
        [("doc-b", b)], "doc_id string, text string"
    )
    s2 = incremental.incremental_dedup(spark, d2, idx)
    assert {r["doc_id"] for r in s2.collect()} == set()


@pytest.mark.slow
def test_incremental_staging_is_pruned(spark, tmp_path):
    """Staged dropped-id parquets must not accumulate unboundedly: each
    call prunes all but the prior call's staging dir (the documented
    retention contract — call k's survivors frame stays re-evaluable
    until call k+2 starts)."""
    import os

    a, b, _ = _chain_docs()
    idx = str(tmp_path / "idx")
    d1 = spark.createDataFrame([(1, a)], "doc_id long, text string")
    incremental.build_index(spark, d1, idx)

    for i in range(4):
        d = spark.createDataFrame(
            [(10 + i, f"fresh unique text number {i} nothing shared here")],
            "doc_id long, text string",
        )
        incremental.incremental_dedup(spark, d, idx).collect()

    staged = os.listdir(os.path.join(idx, "_staging"))
    assert len(staged) <= 2  # current call's + the prior call's
    # and the meta ledger tracks exactly what's on disk
    meta = incremental.SPEC.read_meta(spark, idx)
    assert set(meta["staging"]) == {os.path.join("_staging", s) for s in staged}


@pytest.mark.slow
def test_incremental_prior_survivors_stay_valid(spark, tmp_path):
    """The retention contract's useful half: the survivors frame returned
    by call k must still be collectable after call k+1 ran (its staging
    dir is kept; only older ones are pruned)."""
    a, _, _ = _chain_docs()
    idx = str(tmp_path / "idx")
    d1 = spark.createDataFrame([(1, a)], "doc_id long, text string")
    incremental.build_index(spark, d1, idx)

    d2 = spark.createDataFrame(
        [(2, "completely novel sentence with original words")],
        "doc_id long, text string",
    )
    s2 = incremental.incremental_dedup(spark, d2, idx)  # NOT consumed yet
    d3 = spark.createDataFrame(
        [(3, "another disjoint vocabulary entirely different")],
        "doc_id long, text string",
    )
    incremental.incremental_dedup(spark, d3, idx).collect()
    # call k+1 pruned only staging dirs OLDER than call k's
    assert {r["doc_id"] for r in s2.collect()} == {2}


def test_incremental_missing_meta_raises_clearly(spark, tmp_path):
    """A pre-bucketed-format index (plain parquet, no _meta.json) must
    fail with an actionable error, not a bare FileNotFoundError."""
    import pytest

    legacy = str(tmp_path / "legacy_idx")
    spark.createDataFrame(
        [(1, 0, "k")], "doc_id long, band int, bandkey string"
    ).write.parquet(f"{legacy}/bands")
    d = spark.createDataFrame([(2, "text here")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="_meta.json.*build_index"):
        incremental.incremental_dedup(spark, d, legacy)


def test_incremental_conflicting_policy_raises(spark, tmp_path):
    """An explicit survivor_policy that disagrees with what the index was
    built with must raise — mixing append semantics silently breaks the
    cluster index's retain-dropped-docs invariant for all later batches."""
    import pytest

    a, _, _ = _chain_docs()
    idx = str(tmp_path / "idx")
    d1 = spark.createDataFrame([(1, a)], "doc_id long, text string")
    incremental.build_index(spark, d1, idx, survivor_policy="cluster")

    d2 = spark.createDataFrame([(2, "whatever")], "doc_id long, text string")
    with pytest.raises(ValueError, match="conflicts with the.*index"):
        incremental.incremental_dedup(spark, d2, idx, survivor_policy="greedy")
    # matching explicit policy is fine
    incremental.incremental_dedup(
        spark, d2, idx, survivor_policy="cluster"
    ).collect()


def test_incremental_module_has_no_driver_collect():
    """The dropped-id set must stay distributed (a 100%-duplicate batch
    would otherwise funnel every id through the driver as a Python
    list)."""
    import inspect

    src = inspect.getsource(incremental)
    assert ".collect()" not in src
    assert ".toPandas()" not in src
    assert ".toLocalIterator()" not in src


def test_ivf_index_build_add_search(spark, tmp_path):
    """Persisted IVF index: build on half the vectors, append the rest
    via assignment-only (no retraining), then search the full index —
    results must equal the in-memory ivf_topk pipeline given the SAME
    centroids, and appended vectors must be findable."""
    from basic_data_pipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf")

    similarity.ivf_build_index(half1, idx, dim=64)
    similarity.ivf_index_add(half2, idx, dim=64)

    stored = spark.read.parquet(f"{idx}/assigned")
    assert stored.count() == emb.count()
    assert stored.select("vec_id").distinct().count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 10)
    got = similarity.ivf_index_search(queries, idx, dim=64, k=3, nprobe=2)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == set(range(10))
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert all(len(v) == 3 for v in per_q.values())

    # odd (appended) vectors appear as neighbors — the add path is live
    assert any(n % 2 == 1 for v in per_q.values() for n in v)


@pytest.mark.slow
def test_ivfpq_index_build_add_search(spark, tmp_path):
    """Persisted compressed index: build → search recovers most of exact
    top-3 (shortlist rerank); adding an exact clone of an indexed vector
    WITHOUT retraining makes it that vector's nearest neighbor."""
    from pyspark.sql import functions as F

    from basic_data_pipeline_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    similarity.ivfpq_build_index(emb, idx, dim=64, train_iters=1)

    queries = emb.filter(F.col("vec_id") < 10)
    res = similarity.ivfpq_index_search(
        queries, idx, dim=64, k=3, nprobe=5, shortlist=100
    )
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    hits = 0
    for q in range(10):
        d = {
            o: sum((a - b) ** 2 for a, b in zip(vecs[q], ov))
            for o, ov in vecs.items()
            if o != q
        }
        exact = {o for o, _ in sorted(d.items(), key=lambda t: (t[1], t[0]))[:3]}
        hits += len(got.get(q, set()) & exact)
    assert hits / 30 >= 0.5, hits / 30

    # add an exact clone of vector 3 under a new id; search for vector 3
    # must now return the clone as its top neighbor (distance 0)
    clone = emb.filter(F.col("vec_id") == 3).select(
        F.lit(900001).alias("vec_id"), "embedding", "label"
    )
    similarity.ivfpq_index_add(clone, idx, dim=64)
    res2 = similarity.ivfpq_index_search(
        emb.filter(F.col("vec_id") == 3), idx, dim=64, k=1, nprobe=2
    )
    rows = res2.collect()
    assert len(rows) == 1 and rows[0]["neighbor_id"] == 900001, rows
