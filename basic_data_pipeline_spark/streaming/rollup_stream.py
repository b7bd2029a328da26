"""Streaming continuous aggregate: readStream → foreachBatch merging
each micro-batch's hourly partials into a persisted rollup.

The batch rollup (operators/rollup.py) is hypertable-style: facts
aggregate ONCE into an additive hour×key rollup and every coarser query
reads the rollup. This module keeps that rollup CONTINUOUSLY up to date
as events stream in: each micro-batch is aggregated to hourly partials
(cost ∝ batch) and merged with the stored rollup by re-aggregating on
(hour, key) — cost ∝ rollup size, which is ~10⁴-10⁵× smaller than the
facts, so the merge is cheap at any fact scale. Merging is EXACT: both
the per-batch partials and the merge accumulate in DECIMAL(38,6), so any
batch slicing produces bit-identical sums to the one-shot rollup
(asserted in tests/test_rollup_stream.py).

Delivery semantics come from the shared swap store
(streaming/swapstore.py, which states the swap and recovery contract):
the epoch watermark is the swap's completion marker inside the rollup
directory, replays are skipped, and an interrupted swap recovers on the
next batch — the same guarantees as the streaming SCD2 history, via the
same code path.

At 100 TB the rollup itself can grow wide (many keys × hours); the
rewrite-whole-rollup swap then gives way to partitioning the rollup by
date and rewriting only the dates the batch touched — late data is the
only reason an old date is touched at all, so with a bounded lateness
horizon the rewrite set is bounded too. That scale path is
``make_partitioned_rollup_batch_fn``: the store is ``date=YYYY-MM-DD``
partition directories, each micro-batch merges ONLY its touched dates
(rewrite cost ∝ touched-dates' rollup rows, never the whole history),
and exactly-once holds per PARTITION — every date directory carries its
own epoch watermark inside the swapped data, so a crash between two
date swaps replays only the dates that didn't complete.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from basic_data_pipeline_spark import caching
from basic_data_pipeline_spark.operators.rollup import hourly_rollup
from basic_data_pipeline_spark.streaming import swapstore

_META = "_rollup_meta.json"
_PART_META = "_rollup_part_meta.json"


def merge_rollups(old: DataFrame | None, partial: DataFrame) -> DataFrame:
    """Additive merge of two hour×type rollups: sums of sums, sums of
    counts, in decimal so batch boundaries can't change the result."""
    both = partial if old is None else old.unionByName(partial)
    return (
        both.groupBy("hour", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.col("value_sum").cast("decimal(38,6)")).alias("_v"),
        )
        .withColumn("value_sum", F.col("_v").cast("double"))
        .drop("_v")
    )


def make_rollup_batch_fn(
    rollup_path: str, tag: str = "stream"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: epoch-guarded incremental rollup maintenance
    with an atomic swap. Takes the single-writer lease on the rollup
    dir — a double-launched second writer raises WriterLeaseHeld."""
    lease_token = swapstore.acquire_lease(
        rollup_path, owner=f"rollup-stream:{tag}"
    )

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        swapstore.renew_lease(rollup_path, lease_token)
        swapstore.recover(rollup_path, _META)
        if epoch_id <= swapstore.read_watermark(rollup_path, tag, _META):
            return  # replay of completed work
        if batch_df.isEmpty():
            swapstore.advance_watermark(rollup_path, epoch_id, tag, _META)
            return
        spark = batch_df.sparkSession
        old = (
            spark.read.parquet(rollup_path)
            if swapstore.has_data(rollup_path)
            else None
        )
        merged = merge_rollups(old, hourly_rollup(batch_df))
        swapstore.swap_in(merged, rollup_path, epoch_id, tag, _META)

    return swapstore.attach_release(fn, rollup_path, lease_token)


# --- date-partitioned store: rewrite only touched dates -------------------

def _date_dir(root: str, d: str) -> str:
    return os.path.join(root, f"date={d}")


def recover_partitions(root: str) -> None:
    """Recover every interrupted per-date swap (swapstore.recover, with
    the date's watermark as the marker)."""
    for tmp in glob.glob(swapstore.tmp_path(_date_dir(root, "*"))):
        d = tmp.rsplit("date=", 1)[1]
        swapstore.recover(_date_dir(root, d), _PART_META)


def make_partitioned_rollup_batch_fn(
    rollup_root: str,
    tag: str = "stream",
    lateness_days: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for the DATE-PARTITIONED rollup store (the 100 TB
    shape — see module docstring). Per batch: hourly partials once
    (localCheckpoint'd — computed one time however many dates they span),
    touched-date list (one bounded collect, ≤ batch-span + lateness
    dates), then per date: merge that date's stored rollup with that
    date's partials and swap the PARTITION. Each date dir carries the
    epoch that produced it, so a replay after a mid-batch crash skips the
    dates that completed and re-merges only the rest — per-partition
    exactly-once on top of foreachBatch's at-least-once.

    ``lateness_days`` bounds the rewrite set: partial rows dated more
    than this many days before the batch's newest date are DROPPED (the
    watermark contract — late beyond the horizon is discarded data, and
    the per-batch rewrite cost stays O(horizon) regardless of how
    disordered the stream is)."""

    lease_token = swapstore.acquire_lease(
        rollup_root, owner=f"rollup-partitioned-stream:{tag}"
    )

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        swapstore.renew_lease(rollup_root, lease_token)
        os.makedirs(rollup_root, exist_ok=True)
        recover_partitions(rollup_root)
        if epoch_id <= swapstore.read_watermark(rollup_root, tag, _META):
            return  # replay of fully completed work
        if batch_df.isEmpty():
            swapstore.advance_watermark(rollup_root, epoch_id, tag, _META)
            return
        spark = batch_df.sparkSession
        partial = hourly_rollup(batch_df).withColumn("_d", F.to_date("hour"))
        if lateness_days is not None:
            # global window over the PARTIALS frame only (rollup-sized,
            # not facts): the single-partition exchange moves at most
            # batch-span × keys rollup rows.
            horizon = F.date_sub(
                F.max("_d").over(Window.partitionBy()), lateness_days
            )
            partial = (
                partial.withColumn("_floor", horizon)
                .filter(F.col("_d") >= F.col("_floor"))
                .drop("_floor")
            )
        with caching.held() as h:
            partial = h.cut(partial)
            dates = sorted(
                str(r["_d"]) for r in partial.select("_d").distinct().collect()
            )
            for d in dates:
                dd = _date_dir(rollup_root, d)
                if epoch_id <= swapstore.read_watermark(dd, tag, _PART_META):
                    continue  # this date completed before a mid-batch crash
                old = spark.read.parquet(dd) if swapstore.has_data(dd) else None
                merged = merge_rollups(
                    old, partial.filter(F.col("_d") == F.lit(d)).drop("_d")
                )
                swapstore.replace_dir(
                    dd,
                    merged.write.mode("overwrite").parquet,
                    meta=(_PART_META, {tag: epoch_id}),
                )
        swapstore.advance_watermark(rollup_root, epoch_id, tag, _META)

    return swapstore.attach_release(fn, rollup_root, lease_token)


def read_partitioned_rollup(spark: SparkSession, rollup_root: str) -> DataFrame:
    """The partitioned store as one DataFrame (partition column ``date``
    included). Recovers interrupted swaps first so discovery never sees a
    temp dir."""
    recover_partitions(rollup_root)
    return spark.read.parquet(rollup_root)


def rollup_files(
    spark: SparkSession,
    source_dir: str,
    rollup_path: str,
    checkpoint: str,
    schema: str,
    **kw,
):
    """Drive the continuous rollup through the real streaming engine off
    a file source (the in-container stand-in for Kafka); availableNow
    drains what exists and stops."""
    fn = make_rollup_batch_fn(rollup_path, **kw)
    raw = spark.readStream.schema(schema).json(source_dir)
    return (
        raw.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_rollup_batches(
    spark: SparkSession,
    batches: list[DataFrame],
    rollup_path: str,
    start_epoch: int = 0,
    **kw,
) -> Callable[[DataFrame, int], None]:
    """Drive the foreachBatch body over explicit micro-batches (tests
    needing precise batch boundaries / simulated replays)."""
    fn = make_rollup_batch_fn(rollup_path, **kw)
    for i, b in enumerate(batches):
        fn(b, start_epoch + i)
    return fn
