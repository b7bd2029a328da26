"""Incremental audio dedup against a persisted constellation index.

The audio sibling of operators/incremental_images.py: a growing corpus
of accepted recordings is summarized by ONE bucketed table of
constellation fingerprints; every arriving batch of clips is decoded,
fingerprinted, and matched against every recording ever accepted — at
INCREMENT cost, never by re-fingerprinting or re-joining the corpus.

Index layout under ``index_path``:

  fps/  (id, t, fhash) — every accepted recording's constellation
        (operators/audio.py), BUCKETED by fhash: the batch's candidate
        join shuffles only the increment side while the index scans in
        place (plan-asserted in tests/test_incremental_audio.py).
  _meta.json — bucket spec, id column, base-build max id (the
        streaming rebuild anchor).

Match semantics are the offset-histogram vote of
``audio.audio_match_pairs``: a new clip DROPS when ≥ ``min_votes`` of
its hashes collide with one corpus recording at a single consistent
frame offset (so a clip of any already-accepted recording — starting
anywhere — is recognized); within a batch the lower id wins; only
accepted clips are indexed (first-accepted-wins under the monotone-id
batching convention every incremental index here shares).

Per-batch cost: one Arrow mapInPandas decode+DSP pass (no shuffle),
one bucketed equi-join on fhash + the per-(pair, offset) vote
aggregation, one within-batch match, and a bucketed APPEND of the
accepted clips' fingerprints. ``max_hash_df`` caps the BATCH side's
hot hashes before the cross join (an increment-cost aggregation); the
index side is not capped — a per-batch df pass over the corpus is
exactly the scan this module avoids (the operators/incremental.py
convention) — so boilerplate-heavy audio (silence, test tones) should
be capped at build time by the same parameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.streaming import swapstore as _swapstore
from basic_data_pipeline_spark.caching import (
    free_local_checkpoint,
    tracked_local_checkpoint,
)
from basic_data_pipeline_spark.operators import audio, indexspec

SPEC = indexspec.AUDIO
DEFAULT_INDEX_BUCKETS = SPEC.n_buckets


def _cap_hot(fps: DataFrame, max_hash_df: int | None) -> DataFrame:
    if max_hash_df is None:
        return fps
    ok = (
        fps.groupBy("fhash")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_hash_df)
        .select("fhash")
    )
    return fps.join(ok, "fhash", "left_semi")


@_swapstore.leased("index_path", owner="batch:incremental_audio.build_audio_index")
def build_audio_index(
    spark: SparkSession,
    media: DataFrame,
    index_path: str,
    id_col: str = "media_id",
    min_votes: int = 8,
    max_hash_df: int | None = 200,
    n_buckets: int = DEFAULT_INDEX_BUCKETS,
) -> DataFrame:
    """Self-dedup ``media`` (constellation match → online-greedy
    survivors) and persist the accepted clips' fingerprints as the
    bucketed index. Returns the surviving (id, t, fhash) fingerprint
    frame (the id SET is the survivor list; join back to the media by
    id). Undecodable clips emit no fingerprints — they survive (nothing
    to match) but are never indexed. ``max_hash_df`` caps hot hashes
    both for the self-match and for what the index retains, so a
    boilerplate-heavy corpus is bounded at build time."""
    fps = tracked_local_checkpoint(
        _cap_hot(
            audio.audio_fingerprints(media, id_col=id_col), max_hash_df
        )
    )
    pairs = audio.audio_match_pairs(fps, min_votes=min_votes, max_hash_df=None)
    dropped = pairs.select(F.col("id_b").alias("media_id")).distinct()
    survivors = tracked_local_checkpoint(
        fps.join(dropped, "media_id", "left_anti")
    )
    meta = {"n_buckets": n_buckets, "id_col": id_col}
    SPEC.write(survivors, index_path, "fps", meta, mode="overwrite")
    meta["max_id"] = media.agg(F.max(id_col)).first()[0]
    SPEC.write_meta(index_path, meta)
    free_local_checkpoint(fps)
    return survivors


def read_audio_index(
    spark: SparkSession, index_path: str, as_of_completed: bool = False
) -> DataFrame:
    """The constellation fingerprint table (fhash, id, t), for external
    readers. ``as_of_completed=True`` pins the read to the last
    COMPLETED epoch's id watermark (operators/indexspec.py — the
    rebuild cut), so a read concurrent with an in-flight append sees a
    consistent snapshot. One codegen filter; bucketed layout
    preserved."""
    meta, cut = SPEC.pinned(spark, index_path, as_of_completed)
    return SPEC.read(spark, index_path, "fps", meta, cut)


@_swapstore.leased("index_path", owner="batch:incremental_audio.incremental_audio_dedup")
def incremental_audio_dedup(
    spark: SparkSession,
    new_media: DataFrame,
    index_path: str,
    min_votes: int = 8,
    max_hash_df: int | None = 200,
    update_index: bool = True,
) -> DataFrame:
    """Dedup a batch of clips against the index (and within itself),
    append the accepted clips' fingerprints, return the surviving
    fingerprint frame.

    Cross candidates come from ONE equi-join of the batch's (capped)
    fingerprints × the bucketed index on fhash — only the increment
    shuffles — then the offset-histogram vote: a new clip drops when
    any one corpus recording collects ≥ ``min_votes`` collisions at a
    single consistent offset. The corpus side always wins; within the
    batch the lower id wins (audio.audio_match_pairs)."""
    meta = SPEC.read_meta(spark, index_path)
    id_col = meta["id_col"]
    idx = SPEC.register(spark, index_path, "fps", meta)

    raw = (
        new_media
        if "fhash" in new_media.columns
        else audio.audio_fingerprints(new_media, id_col=id_col)
    )
    fps = tracked_local_checkpoint(_cap_hot(raw, max_hash_df))

    cross_votes = (
        idx.select(F.col("media_id").alias("_cid"), F.col("t").alias("_tc"), "fhash")
        .join(
            fps.select(
                F.col("media_id").alias("_nid"), F.col("t").alias("_tn"), "fhash"
            ),
            "fhash",
        )
        .groupBy("_cid", "_nid", (F.col("_tc") - F.col("_tn")).alias("_off"))
        .agg(F.count("*").alias("_v"))
        .filter(F.col("_v") >= min_votes)
        .select(F.col("_nid").alias("media_id"))
        .distinct()
    )
    within = (
        audio.audio_match_pairs(fps, min_votes=min_votes, max_hash_df=None)
        .select(F.col("id_b").alias("media_id"))
        .distinct()
    )
    # lineage cut BEFORE the index append (the post-append self-match
    # hazard — see operators/incremental_images.py)
    dropped = tracked_local_checkpoint(
        cross_votes.unionByName(within).distinct()
    )
    survivors = tracked_local_checkpoint(
        fps.join(dropped, "media_id", "left_anti")
    )
    if update_index:
        SPEC.write(survivors, index_path, "fps", meta)
    free_local_checkpoint(fps)
    free_local_checkpoint(dropped)
    return survivors


def compact_audio_index(spark: SparkSession, index_path: str) -> dict:
    """Fold the fingerprint table back to one file per bucket
    (IndexSpec.compact). Returns {rows, files_before, files_after}."""
    return SPEC.compact(spark, index_path)["fps"]
