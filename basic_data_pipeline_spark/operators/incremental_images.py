"""Incremental perceptual image dedup against a persisted band index.

The image sibling of operators/incremental.py: a growing corpus of
already-accepted images is summarized by ONE bucketed table of
perceptual-hash band rows; every arriving batch of images is decoded,
hashed, and checked against every image ever accepted — at INCREMENT
cost, never by re-hashing or re-joining the corpus.

Index layout under ``index_path``:

  bands/  (id, ihash, bi, bv) — one row per pigeonhole band of every
          ACCEPTED image's 64-bit perceptual hash, BUCKETED by
          (bi, bv): the batch's candidate join shuffles only the
          increment side while the index scans in place (the same
          increment-only-shuffle property as the LSH dedup index,
          plan-asserted in tests/test_incremental_images.py). Each
          row carries the full hash, so the exact ``bit_count`` verify
          needs no second index table.
  _meta.json — max_hamming, hash method, bucket spec, id column,
          base-build max id (the streaming rebuild anchor).

Survivor semantics are the ONLINE-GREEDY convention of the LSH index
(operators/incremental.py `greedy`): within a batch, the lower id of a
verified pair wins; against the corpus, the corpus always wins; only
ACCEPTED images are indexed, so a new image matching only previously
REJECTED near-dups is accepted — first-accepted-wins, order-stable
under the monotone-id batching convention every incremental index here
shares.

Per-batch cost: one Arrow mapInPandas decode+hash pass over the batch
(no shuffle), one bucketed equi-join on (bi, bv) + inline popcount
verify, one within-batch banded self-join, and a bucketed APPEND of the
accepted hashes' band rows. Corpus pixels are never re-read; corpus
band rows never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.streaming import swapstore as _swapstore
from basic_data_pipeline_spark.caching import (
    free_local_checkpoint,
    tracked_local_checkpoint,
)
from basic_data_pipeline_spark.operators import images, indexspec

SPEC = indexspec.IMAGE
DEFAULT_INDEX_BUCKETS = SPEC.n_buckets


def _hash_or_passthrough(media: DataFrame, id_col: str) -> DataFrame:
    """Accept either raw media (binary ``data``) or a pre-hashed frame
    (``ihash`` present): the streaming twin hashes once and reuses."""
    if "ihash" in media.columns:
        return media.select(
            id_col, "width", "height", "ihash"
        )
    return images.image_hashes(media, id_col=id_col)


@_swapstore.leased("index_path", owner="batch:incremental_images.build_image_index")
def build_image_index(
    spark: SparkSession,
    media: DataFrame,
    index_path: str,
    id_col: str = "media_id",
    max_hamming: int = 3,
    method: str = "dhash",
    n_buckets: int = DEFAULT_INDEX_BUCKETS,
) -> DataFrame:
    """Self-dedup ``media`` (perceptual near-dup pairs → online-greedy
    survivors) and persist the accepted hashes' band rows as the
    bucketed index. Returns the surviving (id, width, height, ihash)
    frame — undecodable rows (null hash) survive but are never indexed
    (they cannot match anything).

    ``max_hamming`` fixes the band width for the index's whole lifetime
    (images.image_near_dup_pairs' size rule: width 64 // (mh+1) bits;
    the default 3 → 16-bit bands keeps the cross join linear to ~10⁸
    accepted images). The incremental cross join is NOT capped — a
    per-batch df pass over the index is exactly the corpus-cost scan
    this module avoids (the operators/incremental.py convention); a
    corpus whose band buckets run hot should rebuild with a smaller
    budget instead."""
    hashes = tracked_local_checkpoint(
        images.image_hashes(media, method=method, id_col=id_col)
        if "ihash" not in media.columns
        else media.select(id_col, "width", "height", "ihash")
    )
    pairs = images.image_near_dup_pairs(hashes, max_hamming, id_col=id_col)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = hashes.join(dropped, id_col, "left_anti")
    meta = {"max_hamming": max_hamming, "method": method,
            "n_buckets": n_buckets, "id_col": id_col}
    SPEC.write(images.hash_bands(survivors, max_hamming, id_col=id_col),
               index_path, "bands", meta, mode="overwrite")
    meta["max_id"] = media.agg(F.max(id_col)).first()[0]
    SPEC.write_meta(index_path, meta)
    out = tracked_local_checkpoint(survivors)
    free_local_checkpoint(hashes)
    return out


def read_image_index(
    spark: SparkSession, index_path: str, as_of_completed: bool = False
) -> DataFrame:
    """The perceptual band table (bi, bv, id, full hash), for external
    readers. ``as_of_completed=True`` pins the read to the last
    COMPLETED epoch's id watermark (operators/indexspec.py — the
    rebuild cut), so a read concurrent with an in-flight append sees a
    consistent snapshot. One codegen filter; bucketed layout
    preserved."""
    meta, cut = SPEC.pinned(spark, index_path, as_of_completed)
    return SPEC.read(spark, index_path, "bands", meta, cut)


@_swapstore.leased("index_path", owner="batch:incremental_images.incremental_image_dedup")
def incremental_image_dedup(
    spark: SparkSession,
    new_media: DataFrame,
    index_path: str,
    update_index: bool = True,
) -> DataFrame:
    """Dedup a batch of images against the index (and within itself),
    append the accepted hashes' band rows, return the surviving
    (id, width, height, ihash) frame.

    Cross candidates come from ONE equi-join of the batch's band rows ×
    the bucketed index on (bi, bv) — only the increment shuffles — and
    verify inline with ``bit_count(corpus_hash XOR new_hash)`` (each
    band row carries its full hash; no second lookup). The corpus side
    always wins; within the batch the lower id wins."""
    meta = SPEC.read_meta(spark, index_path)
    id_col, mh = meta["id_col"], meta["max_hamming"]
    idx = SPEC.register(spark, index_path, "bands", meta)

    hashes = tracked_local_checkpoint(
        _hash_or_passthrough(new_media, id_col)
    )
    new_bands = images.hash_bands(hashes, mh, id_col=id_col)

    cross_dropped = (
        idx.select("bi", "bv", F.col("ihash").alias("_ch"))
        .join(
            new_bands.select(
                "bi", "bv", F.col(id_col), F.col("ihash").alias("_nh")
            ),
            ["bi", "bv"],
        )
        .filter(F.bit_count(F.col("_ch").bitwiseXOR(F.col("_nh"))) <= mh)
        .select(id_col)
        .distinct()
    )
    within_dropped = (
        images.image_near_dup_pairs(hashes, mh, id_col=id_col)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    # lineage cut BEFORE the index append: left lazy, a post-append
    # re-evaluation would see the batch's own band rows in the index
    # and drop every survivor as its own duplicate (the same hazard
    # operators/incremental.py materializes staging parquets for; the
    # dropped-id frame here is small enough for an eager checkpoint)
    dropped = tracked_local_checkpoint(
        cross_dropped.unionByName(within_dropped).distinct()
    )
    survivors = tracked_local_checkpoint(
        hashes.join(dropped, id_col, "left_anti")
    )
    if update_index:
        SPEC.write(images.hash_bands(survivors, mh, id_col=id_col),
                   index_path, "bands", meta)
    free_local_checkpoint(hashes)
    free_local_checkpoint(dropped)
    return survivors


def compact_image_index(spark: SparkSession, index_path: str) -> dict:
    """Fold the band table back to one file per bucket
    (IndexSpec.compact). Returns {rows, files_before, files_after}."""
    return SPEC.compact(spark, index_path)["bands"]
