"""Streaming SCD Type 2 maintenance: readStream → foreachBatch(scd2_apply).

Continuously folds a CDC change stream into the persisted SCD2 history
(operators/scd.py): each micro-batch closes touched keys' open rows and
appends the batch's versions, then the new history REPLACES the old
through ``swapstore.swap_in``. One code path, driven either by the
streaming engine (`scd2_files`, file source standing in for Kafka as in
ingest.py) or by explicit micro-batches in tests (`run_scd2_batches`).

Delivery semantics, stated precisely: foreachBatch is at-least-once, and
re-applying a batch to a history that already contains it is NOT
idempotent (the same change would close its own version and insert a
duplicate). Unlike the dedup stream's append-only index (which needs a
ledger file + intent marker), the swap gives exactly-once for free: the
epoch watermark is the swap's completion marker, so the data and its
epoch move together and a replayed epoch at or below it is skipped
(streaming/swapstore.py states the swap and recovery contract). The
history rewrite cost is proportional to the history size, not the batch
— the right trade for a STREAMING dimension table (dimensions are small
relative to facts); a 100 TB fact-scale history would instead partition
by key and rewrite only touched partitions, as documented in scd.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from basic_data_pipeline_spark.operators.scd import scd2_apply
from basic_data_pipeline_spark.streaming import swapstore

_META = "_scd2_meta.json"


def make_scd2_batch_fn(
    history_path: str,
    key_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    tag: str = "stream",
    skip_unchanged: bool = False,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch body: epoch-guarded SCD2 fold with an
    atomic history swap. Takes the single-writer lease on the history
    dir (swapstore.acquire_lease) — a double-launched second writer
    raises WriterLeaseHeld instead of racing the swap."""
    lease_token = swapstore.acquire_lease(
        history_path, owner=f"scd2-stream:{tag}"
    )

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        swapstore.renew_lease(history_path, lease_token)
        swapstore.recover(history_path, _META)
        if epoch_id <= swapstore.read_watermark(history_path, tag, _META):
            return  # full replay of completed work — drop it

        spark = batch_df.sparkSession
        hist = (
            spark.read.parquet(history_path)
            if swapstore.has_data(history_path)
            else None
        )
        if batch_df.isEmpty():
            # advance only the watermark; replacing identical data would
            # pay a full rewrite for nothing
            swapstore.advance_watermark(history_path, epoch_id, tag, _META)
            return

        new_hist = scd2_apply(
            hist, batch_df, key_cols, ts_col, op_col, skip_unchanged
        )
        swapstore.swap_in(new_hist, history_path, epoch_id, tag, _META)

    return swapstore.attach_release(fn, history_path, lease_token)


def scd2_files(
    spark: SparkSession,
    source_dir: str,
    history_path: str,
    checkpoint: str,
    key_cols: list[str],
    schema: str,
    **kw,
):
    """Drive the streaming SCD2 fold through the real streaming engine
    off a file source (the in-container stand-in for Kafka, as in
    ingest.ingest_files); availableNow drains what exists and stops."""
    fn = make_scd2_batch_fn(history_path, key_cols, **kw)
    raw = spark.readStream.schema(schema).json(source_dir)
    return (
        raw.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_scd2_batches(
    spark: SparkSession,
    batches: list[DataFrame],
    history_path: str,
    key_cols: list[str],
    start_epoch: int = 0,
    **kw,
) -> Callable[[DataFrame, int], None]:
    """Drive the foreachBatch body over explicit micro-batches (tests
    needing precise batch boundaries / simulated replays). Returns the
    body so callers can replay epochs explicitly."""
    fn = make_scd2_batch_fn(history_path, key_cols, **kw)
    for i, b in enumerate(batches):
        fn(b, start_epoch + i)
    return fn
