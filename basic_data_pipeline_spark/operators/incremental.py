"""Incremental near-dedup: new batches dedup against a persisted corpus
index instead of re-deduping the whole corpus (SURVEY.md §2.11 — the
workflow a 100 TB training-data pipeline actually runs: the corpus was
deduped once; every arriving increment is checked against the index and
only survivors join it).

The index holds two BUCKETED parquet tables per corpus (written via
sources/tables.write_bucketed, registered in the session catalog, files
rooted under `index_path`):

  bands/     (doc_id, band, bandkey)  — the LSH join keys, bucketed+sorted
                                        by (band, bandkey): the
                                        cross-increment candidate join
                                        shuffles ONLY the increment side —
                                        the index side scans in place.
  shingles/  (doc_id, shingle)        — set-semantic word shingles for the
                                        exact-Jaccard verify stage,
                                        bucketed by doc_id so the
                                        candidate-partner semi-join is
                                        exchange-free on the index side.

Why bucketing matters here: without it, EVERY increment re-shuffles the
whole index's bands (O(corpus) shuffle per batch); with it, the per-batch
cost is O(increment) shuffle + an in-place index scan — increment-cost
dedup instead of corpus-cost. The bucket spec is persisted in
`_meta.json` so appends always match, and a fresh session re-registers
the tables from disk (the layout is declared once in
operators/indexspec.py).

An increment of n docs costs: shingle+sign n docs, ONE banded equi-join
against the index bands (only the increment side shuffles to the bucket
layout), exact verify on the surfaced candidates only, and an APPEND of
the survivors' bands+shingles. Corpus text is never re-read.

Survivor policies (mirrors dedup.near_dedup_corpus):
- ``greedy`` (default): keep-lowest-id per pair, per arrival. On
  transitive chains ACROSS batches (a~b in batch 1 drops b; c~b arrives
  later) the index only holds survivors, so c finds no partner and is
  kept — the standard behavior of every survivors-only incremental dedup.
- ``cluster``: the index additionally retains DROPPED docs' bands and
  shingles, so a later c~b still surfaces and c is dropped — one survivor
  per duplicate component even when the chain arrives across batches.
  Within a batch, components are resolved by dedup.duplicate_clusters
  (corpus docs anchor their components and always win). Costs index
  growth proportional to the duplicate rate.

Doc ids must be globally unique across the corpus and all increments
(they key the index), and new-batch ids must sort AFTER existing ids for
keep-lowest-id to mean keep-oldest.
"""

from __future__ import annotations

import os
import shutil
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.caching import tracked_persist
from basic_data_pipeline_spark.streaming import swapstore as _swapstore
from basic_data_pipeline_spark.operators import dedup, indexspec

SPEC = indexspec.DEDUP
DEFAULT_INDEX_BUCKETS = SPEC.n_buckets


def _prune_staging(index_path: str, meta: dict) -> None:
    """Delete staged dropped-id parquets from all but the most recent
    prior call (recorded in meta['staging']) — unbounded accumulation
    otherwise. Retention contract: the survivors frame returned by call k
    stays re-evaluable until call k+2 starts; consume (or persist) it
    before then."""
    staged = meta.get("staging", [])
    for rel in staged[:-1]:
        shutil.rmtree(os.path.join(index_path, rel), ignore_errors=True)
    meta["staging"] = staged[-1:]


def _index_tables(
    spark: SparkSession, index_path: str
) -> tuple[DataFrame, DataFrame, dict]:
    meta = SPEC.read_meta(spark, index_path)
    return (
        SPEC.register(spark, index_path, "bands", meta),
        SPEC.register(spark, index_path, "shingles", meta),
        meta,
    )


def _cross_candidates(
    idx_bands: DataFrame, new_bands: DataFrame, id_col: str
) -> DataFrame:
    """(id_a = corpus doc, id_b = new doc) pairs sharing a band — ONE
    equi-join on (band, bandkey). With the index bucketed on exactly that
    key, only the increment side exchanges (plan-asserted in
    test_incremental); the corpus side is an in-place bucketed scan."""
    return (
        idx_bands.select("band", "bandkey", F.col(id_col).alias("id_a"))
        .join(
            new_bands.select("band", "bandkey", F.col(id_col).alias("id_b")),
            on=["band", "bandkey"],
        )
        .select("id_a", "id_b")
    )


def _materialized_dropped(
    spark: SparkSession, dropped_src: DataFrame, index_path: str, id_col: str
) -> tuple[DataFrame, str]:
    """Materialize the dropped-id set to a staging parquet under the index
    and read it back — a DISTRIBUTED lineage cut (never a driver-side
    collect: a batch that is 100% duplicates would otherwise funnel every
    id through the driver). The cut is required because the dropped-set
    lineage reads the index directories, and the survivors frame returned
    to the caller outlives this call — left lazy, a post-append
    evaluation would see the batch's own rows in the index and drop every
    survivor as its own duplicate. The id column keeps the caller's
    name and type (no hardcoded schema — string ids work). Returns the
    frame and the index-relative staging path (for meta tracking /
    pruning by later calls — see _prune_staging)."""
    rel = os.path.join("_staging", uuid.uuid4().hex)
    staging = os.path.join(index_path, rel)
    dropped_src.write.mode("overwrite").parquet(staging)
    return spark.read.parquet(staging), rel


def _dropped_ids(pairs: DataFrame, id_col: str, survivor_policy: str) -> DataFrame:
    """Per-policy dropped-id frame (column named `id_col`) from verified
    duplicate pairs. Pairs are oriented (id_a wins, id_b drops) for
    greedy; cluster resolves components with corpus/lowest ids as
    anchors (a corpus id can surface in a component, but it is never in
    the new batch, so the anti-join ignores it)."""
    if survivor_policy == "greedy":
        return pairs.select(F.col("id_b").alias(id_col)).distinct()
    if survivor_policy == "cluster":
        clusters = dedup.duplicate_clusters(pairs)
        return clusters.filter(F.col("doc_id") != F.col("cluster")).select(
            F.col("doc_id").alias(id_col)
        )
    raise ValueError(f"unknown survivor_policy {survivor_policy!r}")


@_swapstore.leased("index_path", owner="batch:incremental.build_index")
def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_buckets: int = DEFAULT_INDEX_BUCKETS,
    survivor_policy: str = "greedy",
) -> DataFrame:
    """Self-dedup `docs` (LSH candidates → exact verify → survivor
    selection per `survivor_policy`) and persist the corpus index as two
    bucketed tables (see module docstring). Returns the surviving docs.

    `n_buckets` sizes the bucketed layout: pick ~(corpus bands rows ÷
    target bucket file size); appends reuse the spec from _meta.json.
    ``greedy`` indexes only survivors; ``cluster`` indexes every doc so
    cross-batch transitive chains resolve to one survivor."""
    sh = tracked_persist(dedup.word_shingles(docs, id_col, text_col))
    sig = dedup.minhash_signatures(sh, id_col)
    bands = tracked_persist(dedup.lsh_bands(sig, id_col))
    cand = dedup.lsh_candidate_pairs(bands, id_col)
    pairs = dedup.jaccard_verify(sh, cand, id_col, threshold)
    dropped = _dropped_ids(pairs, id_col, survivor_policy)
    survivors = docs.join(dropped, id_col, "left_anti")

    if survivor_policy == "cluster":
        idx_bands, idx_sh = bands, sh  # retain dropped docs: see module doc
    else:
        keep = survivors.select(id_col)
        idx_bands = bands.join(keep, id_col)
        idx_sh = sh.join(keep, id_col)

    # a rebuild invalidates any staged dropped-id parquets from a prior
    # index at the same path
    shutil.rmtree(os.path.join(index_path, "_staging"), ignore_errors=True)
    meta = {
        "n_buckets": n_buckets,
        "survivor_policy": survivor_policy,
        "staging": [],
        "id_col": id_col,
    }
    SPEC.write(idx_bands.select(id_col, "band", "bandkey"), index_path,
               "bands", meta, mode="overwrite")
    SPEC.write(idx_sh.select(id_col, "shingle"), index_path, "shingles",
               meta, mode="overwrite")
    # the base corpus's max id (a column-pruned aggregate) anchors the
    # watermark cut before any epoch completes (operators/indexspec.py)
    meta["max_id"] = docs.agg(F.max(id_col)).first()[0]
    SPEC.write_meta(index_path, meta)
    return survivors


def read_dedup_index(
    spark: SparkSession, index_path: str, as_of_completed: bool = False
) -> dict[str, DataFrame]:
    """{'bands', 'shingles'}: the index content, for external readers.
    ``as_of_completed=True`` pins both tables to the last COMPLETED
    epoch's id watermark (operators/indexspec.py — the same cut the
    crash rebuild makes), so a read concurrent with an in-flight append
    sees a consistent snapshot instead of a partial epoch. Two codegen
    filters, no extra pass; the bucketed layout is preserved."""
    meta, cut = SPEC.pinned(spark, index_path, as_of_completed)
    return {
        t: SPEC.read(spark, index_path, t, meta, cut)
        for t in ("bands", "shingles")
    }


@_swapstore.leased("index_path", owner="batch:incremental.incremental_dedup")
def incremental_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = dedup.DEFAULT_MAX_BUCKET,
    update_index: bool = True,
    survivor_policy: str | None = None,
) -> DataFrame:
    """Dedup an increment against the index (and within itself), append
    to the index, return the surviving docs.

    Cross candidates come from ONE equi-join of new bands × index bands
    on (band, bandkey) — the index side is a bucketed in-place scan, only
    the increment shuffles. Verify reads index shingles ONLY for
    candidate partners (bucketed semi-join), never the whole corpus.

    `max_bucket` caps the within-batch candidate join's hot buckets
    (default dedup.DEFAULT_MAX_BUCKET; pass None for the exact candidate
    set). The cross join is not capped: the index side would need a
    per-batch window over the whole index, which is exactly the
    corpus-cost shuffle this module exists to avoid — a boilerplate-heavy
    corpus should cap at build time instead.

    `survivor_policy` defaults to whatever the index was built with
    (_meta.json); passing one that DISAGREES with the index raises —
    mixing append semantics (``cluster`` retains dropped docs, ``greedy``
    doesn't) would silently break the index's invariant for every later
    batch. Rebuild with build_index(survivor_policy=...) to switch."""
    idx_bands, idx_sh, meta = _index_tables(spark, index_path)
    built_with = meta.get("survivor_policy", "greedy")
    if survivor_policy is not None and survivor_policy != built_with:
        raise ValueError(
            f"survivor_policy={survivor_policy!r} conflicts with the "
            f"index at {index_path!r}, built with {built_with!r} — the "
            "policy fixes what the index retains, so it cannot change "
            "per batch; rebuild the index to switch policies"
        )
    policy = built_with
    _prune_staging(index_path, meta)

    new_sh = tracked_persist(dedup.word_shingles(new_docs, id_col, text_col))
    new_sig = dedup.minhash_signatures(new_sh, id_col)
    new_bands = tracked_persist(dedup.lsh_bands(new_sig, id_col))

    # cross pairs oriented (id_a = corpus doc, id_b = new doc): the
    # corpus side always wins
    cross = _cross_candidates(idx_bands, new_bands, id_col).distinct()
    within = dedup.lsh_candidate_pairs(new_bands, id_col, max_bucket=max_bucket)
    cand = cross.unionByName(within)

    # verify needs both sides' shingles; the index side is pruned to
    # candidate partners before it ever shuffles
    old_ids = cand.select(F.col("id_a").alias(id_col)).distinct()
    verify_sh = new_sh.unionByName(idx_sh.join(old_ids, id_col, "left_semi"))
    pairs = dedup.jaccard_verify(verify_sh, cand, id_col, threshold)

    dropped, staging_rel = _materialized_dropped(
        spark, _dropped_ids(pairs, id_col, policy), index_path, id_col
    )
    meta["staging"] = meta.get("staging", []) + [staging_rel]
    SPEC.write_meta(index_path, meta)
    # surface the hot-bucket cap's drop counts (one tiny aggregate over
    # the still-cached pre-cap bands) so a corpus whose organic buckets
    # exceed max_bucket is noticed rather than silently under-deduped
    cap = dedup.last_cap_stats()
    if cap and cap.get("capped_rows"):
        warnings.warn(
            f"incremental_dedup: hot-bucket cap (max_bucket={max_bucket}) "
            f"dropped {cap['capped_rows']} band memberships across "
            f"~{cap['capped_buckets']} buckets in this batch; pass "
            "max_bucket=None for the exact candidate set",
            stacklevel=2,
        )
    # only NEW docs can drop (cross pairs orient corpus-first; a corpus id
    # labeled into another corpus doc's cluster is not in new_docs) —
    # anti-join filters survivors of this batch
    survivors = new_docs.join(dropped, id_col, "left_anti")

    if update_index:
        if policy == "cluster":
            add_bands, add_sh = new_bands, new_sh  # retain dropped docs
        else:
            keep = survivors.select(id_col)
            add_bands = new_bands.join(keep, id_col)
            add_sh = new_sh.join(keep, id_col)
        SPEC.write(add_bands.select(id_col, "band", "bandkey"), index_path,
                   "bands", meta)
        SPEC.write(add_sh.select(id_col, "shingle"), index_path,
                   "shingles", meta)
    return survivors


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Fold the bands/shingles tables back to one file per bucket
    (IndexSpec.compact: writer lease, intent guard). Returns {table:
    {rows, files_before, files_after}}."""
    return SPEC.compact(spark, index_path)
