"""Guarded streaming twins of the persisted-index families:
readStream → foreachBatch(<family append kernel>).

Each family (operators/indexspec.py) gets ``make_<family>_batch_fn``,
``<family>_files`` and ``run_<family>_batches`` bound below from
``make_guarded_batch_fn``: each micro-batch runs the family's batch
append operator against its persisted index and writes the epoch's
output to an epoch-tagged directory. One code path, driven either by the
streaming engine (``*_files``, a file source standing in for Kafka as in
ingest.py) or by explicit micro-batches in tests (``run_*_batches``).

Delivery semantics, stated precisely: foreachBatch is at-least-once, and
a replayed index APPEND is not harmless here — duplicate (doc_id,
shingle) rows inflate `jaccard_verify` intersection counts for every
later batch (dedup.py:273-276 requires set semantics). So this module
keeps a per-checkpoint epoch ledger NEXT TO the index:

* an epoch ≤ the ledger's last-applied mark is a FULL REPLAY of a batch
  whose work completed (crash after ledger write, before checkpoint
  commit) — skipped outright, including its write;
* an INTENT marker is written before the index append and cleared after
  the ledger advances; finding a stale marker on replay means the crash
  landed MID-APPEND, the index may hold a partial append, and the only
  safe continuation is a rebuild — raised loudly as `DirtyIndexError`
  rather than silently double-appending;
* survivor output is an epoch-subdir overwrite, idempotent by
  construction.

The ledger file is tiny driver-side JSON (control-plane state, like the
index _meta.json) — no data-plane cost at any corpus size.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from basic_data_pipeline_spark.caching import release_persisted
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.operators.indexspec import read_ledger
from basic_data_pipeline_spark.streaming import swapstore


class DirtyIndexError(RuntimeError):
    """A previous run crashed between the index append and the epoch
    ledger write: the bucketed index may contain a partial append for
    that epoch, and set-semantics consumers (jaccard_verify) would be
    corrupted by re-appending. Run the family's recovery helper, which
    the message names — streaming/rebuild.py ``rebuild_<family>_index``
    for each family in operators/indexspec.py — which drops the partial
    append exactly (id-watermark filter) and clears the marker; then
    resume the stream."""


def _ledger_path(index_path: str) -> str:
    return os.path.join(index_path, indexspec.LEDGER)


def _write_ledger(index_path: str, ledger: dict) -> None:
    swapstore.replace_json(_ledger_path(index_path), ledger)


def make_guarded_batch_fn(
    index_path: str,
    out_root: str,
    body: Callable[[DataFrame, int], DataFrame],
    spec: indexspec.IndexSpec,
    tag: str = "stream",
    max_id_of: Callable[[DataFrame], object] | None = None,
    compact_every: int | None = None,
    compact_fn: Callable[[SparkSession], object] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The SHARED foreachBatch skeleton for every stream that maintains
    a persisted index whose appends are not replay-safe (one
    delivery-semantics contract, one implementation). ``spec`` is the
    index's family: DirtyIndexError names its exact rebuild helper.

    * epoch ≤ ledger watermark → full replay of completed work, skipped
      outright including the output write;
    * an INTENT marker brackets ``body`` (which mutates the index); a
      stale marker on entry means a crash landed mid-append and the only
      safe continuation is an index rebuild — DirtyIndexError, never a
      silent double-append; the family's streaming/rebuild.py helper
      performs that rebuild and clears the marker;
    * ``body``'s result lands in an epoch-subdir OVERWRITE (idempotent
      by construction); the ledger advances strictly after;
    * ``max_id_of`` (batch max of the id column) is recorded in the
      ledger ON COMPLETION only — so after a mid-append crash the
      ledger's ``max_id`` bounds exactly the COMPLETED epochs' ids, and
      the rebuild helpers can cut every partial row with one
      ``id <= max_id`` filter (ids are monotone across batches — the
      standing convention of every incremental index here);
    * tracked persists accumulated by the body's operators are released
      once the epoch ends, also when the body throws — foreachBatch has
      no @query wrapper to do it, and without this a long stream caches
      frames without bound; a lineage-cut ``out`` that the body's
      builder kept (caching.py's session lifetime) is freed with them.
      A throwing epoch leaves its intent marker set;
    * SINGLE WRITER (r9): the factory takes the swapstore writer lease
      on the index dir and renews it per batch — a double-launched
      second stream on the same index raises WriterLeaseHeld at
      construction (cross-process, live holder) or supersedes this one
      (same process, e.g. a restart in a long-lived driver), whose next
      batch then raises loudly instead of racing the append+ledger
      protocol silently. Crashed holders (dead pid / expired ttl) are
      stolen. The rebuild helpers force-release the lease — a rebuild
      asserts the writer is gone.
    * AUTO-COMPACTION (r11): every bucketed append lays down n_buckets
      more files per table, and a body whose candidate join READS the
      index pays a per-epoch wall that drifts with file count (measured
      ~0.7 s/epoch for dedup at the 16×/64× probe tiers; SCALING.md
      r11 — appends that never read their index, retrieval/ANN, stay
      flat). ``compact_every=N`` runs ``compact_fn`` after every N
      completed NON-EMPTY epochs, under this stream's own lease (the
      stream is the single writer, so compacting between its own
      batches cannot race anything); the probe's cadence rule
      e* ≈ √(2·compact_cost/drift_slope) lands around 6-16 epochs for
      the dedup shape. The since-compact counter rides in the ledger
      (crash mid-compact → the counter stays high and the next epoch
      re-compacts; every family's compaction is swap-recoverable and
      result-preserving, so the retry is idempotent).
    """
    lease_token = swapstore.acquire_lease(
        index_path, owner=f"guarded-stream:{tag}"
    )

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        swapstore.renew_lease(index_path, lease_token)
        ledger = read_ledger(index_path)
        state = ledger.get(tag, {"last_epoch": -1, "intent": None})
        if epoch_id <= state["last_epoch"]:
            return  # full replay of completed work — drop it
        if state["intent"] is not None:
            raise DirtyIndexError(
                f"epoch {state['intent']} of stream {tag!r} crashed "
                f"mid-append into the {spec.what} at {index_path!r}; run "
                f"streaming.rebuild.{spec.rebuild_name}(spark, "
                f"{index_path!r}) before resuming"
            )
        if batch_df.isEmpty():
            state["last_epoch"] = epoch_id
            ledger[tag] = state
            _write_ledger(index_path, ledger)
            return

        state["intent"] = epoch_id
        ledger[tag] = state
        _write_ledger(index_path, ledger)

        try:
            # the body's batch operators (incremental_* appends) take the
            # batch writer_lease themselves; mark this chain as the live
            # holder so the nested guard passes through instead of
            # deadlocking against its own stream's lease
            with swapstore.reentrant_scope(index_path, lease_token):
                out = body(batch_df, epoch_id)
                out.write.mode("overwrite").parquet(
                    os.path.join(out_root, f"epoch={epoch_id}")
                )

            state["last_epoch"] = epoch_id
            state["intent"] = None
            if max_id_of is not None:
                wm = max_id_of(batch_df)
                prev = state.get("max_id")
                if wm is not None:
                    state["max_id"] = wm if prev is None else max(prev, wm)
            if compact_every:
                state["since_compact"] = state.get("since_compact", 0) + 1
            ledger[tag] = state
            _write_ledger(index_path, ledger)
        finally:
            release_persisted()

        if (
            compact_every
            and compact_fn is not None
            and state["since_compact"] >= compact_every
        ):
            # after the ledger advance: a crash mid-compact replays
            # nothing, the counter stays high, and the next epoch
            # re-runs the (idempotent, swap-recoverable) compaction
            with swapstore.reentrant_scope(index_path, lease_token):
                compact_fn(batch_df.sparkSession)
            state["since_compact"] = 0
            ledger[tag] = state
            _write_ledger(index_path, ledger)

    return swapstore.attach_release(fn, index_path, lease_token)


def _guarded(
    spec: indexspec.IndexSpec,
    index_path: str,
    out_root: str,
    tag: str,
    compact_every: int | None,
    append: Callable[[SparkSession, DataFrame, int], DataFrame],
    compact: Callable[[SparkSession, str], object],
    id_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The guarded skeleton around one family's append kernel: the
    ledger records the batch max of ``id_col`` (default: the index's
    recorded id column), auto-compaction runs the family's public
    compaction."""
    return make_guarded_batch_fn(
        index_path,
        out_root,
        lambda b, epoch: append(b.sparkSession, b, epoch),
        spec,
        tag=tag,
        max_id_of=lambda b: b.agg(
            F.max(
                id_col
                or spec.read_meta(b.sparkSession, index_path)["id_col"]
            )
        ).first()[0],
        compact_every=compact_every,
        compact_fn=lambda spark: compact(spark, index_path),
    )


def make_dedup_batch_fn(
    index_path: str,
    out_root: str,
    tag: str = "stream",
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    **dedup_kw,
) -> Callable[[DataFrame, int], None]:
    """Epoch-guarded incremental dedup (operators/incremental.py); epoch
    output: the surviving docs. ``compact_every=N`` folds the bucketed
    index back to one file per bucket every N epochs — dedup's candidate
    join re-reads the index each epoch, so its wall drifts ~0.7 s/epoch
    unbounded without it; ~6-16 is the measured sweet spot (see
    make_guarded_batch_fn)."""
    from basic_data_pipeline_spark.operators import incremental as M

    return _guarded(
        M.SPEC, index_path, out_root, tag, compact_every,
        lambda spark, b, _e: M.incremental_dedup(
            spark, b, index_path, id_col=id_col, text_col=text_col,
            **dedup_kw,
        ),
        M.compact_index, id_col,
    )


def make_substring_batch_fn(
    index_path: str,
    out_root: str,
    tag: str = "stream",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Epoch-guarded incremental substring dedup; epoch output: the
    rewritten documents."""
    from basic_data_pipeline_spark.operators import incremental_substring as M

    return _guarded(
        M.SPEC, index_path, out_root, tag, compact_every,
        lambda spark, b, _e: M.incremental_substring_dedup(spark, b, index_path),
        M.compact_index,
    )


def make_entity_batch_fn(
    index_path: str,
    out_root: str,
    tag: str = "stream",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Epoch-guarded incremental entity resolution; epoch output: the
    batch's (id, entity_id) assignments. The epoch rides into the alias
    log (_epoch) so a rebuild can drop a crashed epoch's merges."""
    from basic_data_pipeline_spark.operators import incremental_entity as M

    return _guarded(
        M.SPEC, index_path, out_root, tag, compact_every,
        lambda spark, b, epoch: M.incremental_resolve(
            spark, b, index_path, epoch=epoch
        ),
        M.compact_index,
    )


def make_retrieval_batch_fn(
    index_path: str,
    out_root: str,
    tag: str = "stream",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Epoch-guarded BM25 index append; epoch output: the per-document
    indexing receipt."""
    from basic_data_pipeline_spark.operators import incremental_retrieval as M

    return _guarded(
        M.SPEC, index_path, out_root, tag, compact_every,
        lambda spark, b, _e: M.incremental_retrieval_append(spark, b, index_path),
        M.compact_index,
    )


def make_image_batch_fn(
    index_path: str,
    out_root: str,
    tag: str = "stream",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Epoch-guarded perceptual image dedup; epoch output: the surviving
    (id, width, height, ihash) frame, not the pixel bytes (join back to
    the source by id downstream)."""
    from basic_data_pipeline_spark.operators import incremental_images as M

    return _guarded(
        M.SPEC, index_path, out_root, tag, compact_every,
        lambda spark, b, _e: M.incremental_image_dedup(spark, b, index_path),
        M.compact_image_index,
    )


def make_audio_batch_fn(
    index_path: str,
    out_root: str,
    tag: str = "stream",
    compact_every: int | None = None,
    **match_kw,
) -> Callable[[DataFrame, int], None]:
    """Epoch-guarded audio dedup; epoch output: the surviving
    fingerprints. ``match_kw`` (min_votes, max_hash_df) passes through
    to incremental_audio_dedup."""
    from basic_data_pipeline_spark.operators import incremental_audio as M

    return _guarded(
        M.SPEC, index_path, out_root, tag, compact_every,
        lambda spark, b, _e: M.incremental_audio_dedup(
            spark, b, index_path, **match_kw
        ),
        M.compact_audio_index,
    )


def make_graph_batch_fn(
    index_path: str,
    out_root: str,
    tag: str = "stream",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Epoch-guarded link-graph maintenance; epoch output: the resolved
    components of the endpoints the batch touched. add_edges tags its
    appends with the batch's max src — the id the ledger records on
    completion, so the rebuild cut and the append tags always agree."""
    from basic_data_pipeline_spark.operators import incremental_linkgraph as M

    return _guarded(
        M.SPEC, index_path, out_root, tag, compact_every,
        lambda spark, b, _e: M.add_edges(
            spark, b, index_path, wm=b.agg(F.max("src")).first()[0]
        ),
        M.compact_graph_index, "src",
    )


def _runners(make, schema: str, fmt: str = "json"):
    """(``<family>_files``, ``run_<family>_batches``) for one factory."""

    def files(
        spark: SparkSession,
        source_dir: str,
        index_path: str,
        out_root: str,
        checkpoint: str,
        schema: str = schema,
        **kw,
    ):
        """Drive the guarded stream through the real streaming engine
        off a file source (the in-container stand-in for Kafka);
        availableNow drains what exists and stops."""
        fn = make(index_path, out_root, **kw)
        raw = getattr(spark.readStream.schema(schema), fmt)(source_dir)
        return (
            raw.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def run(
        spark: SparkSession,
        batches: list[DataFrame],
        index_path: str,
        out_root: str,
        start_epoch: int = 0,
        **kw,
    ) -> Callable[[DataFrame, int], None]:
        """Drive the foreachBatch body over explicit micro-batches
        (tests needing precise batch boundaries / simulated replays).
        Returns the body so callers can replay epochs explicitly."""
        fn = make(index_path, out_root, **kw)
        for i, b in enumerate(batches):
            fn(b, start_epoch + i)
        return fn

    return files, run


_TEXT = "doc_id long, text string"
_MEDIA = "media_id long, data binary"
dedup_files, run_dedup_batches = _runners(make_dedup_batch_fn, _TEXT)
substring_files, run_substring_batches = _runners(make_substring_batch_fn, _TEXT)
entity_files, run_entity_batches = _runners(
    make_entity_batch_fn, "id long, name string"
)
retrieval_files, run_retrieval_batches = _runners(make_retrieval_batch_fn, _TEXT)
image_files, run_image_batches = _runners(make_image_batch_fn, _MEDIA, "parquet")
audio_files, run_audio_batches = _runners(make_audio_batch_fn, _MEDIA, "parquet")
edge_files, run_edge_batches = _runners(
    make_graph_batch_fn, "src long, dst long", "parquet"
)
