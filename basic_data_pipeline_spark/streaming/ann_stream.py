"""Streaming ANN index maintenance: readStream → foreachBatch appending
epoch deltas to the persisted IVF index.

The streaming face of the persisted IVF index (operators/similarity.py
ivf_build_index / ivf_index_add): new vectors arrive continuously, get
assigned to the FROZEN centroids (the standard IVF contract — cells
drift only on explicit rebuild), and become searchable immediately.

Delivery semantics WITHOUT a dirty-index failure mode: a plain
``ivf_index_add`` append is not replay-safe (a re-run batch would
double-append its vectors), so the streaming maintainer writes each
micro-batch's assignments to its OWN epoch partition —

    assigned_epochs/run=R/epoch=N/cell=K/part-*.parquet

— with overwrite. A replayed epoch rewrites an identical partition
instead of appending duplicates (the epoch-subdir idempotence pattern of
quality_stream/dedup_stream), so foreachBatch's at-least-once becomes
exactly-once per epoch with no intent marker and no rebuild-the-index
failure path; the only driver-side state is a tiny per-run written-epoch
watermark (_epoch_meta.json) that turns a same-path checkpoint RESET —
epoch ids reused for new data — into a loud EpochReusedError instead of
a silent delta overwrite. Searches read base ∪ epoch deltas with
the same cell-pruned probe join; ``compact_epochs`` periodically folds
deltas into the base (compaction ledger → folding is itself
crash-idempotent) so the file count stays bounded.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.caching import release_persisted
from basic_data_pipeline_spark.operators import similarity
from basic_data_pipeline_spark.streaming import swapstore

_EPOCHS = "assigned_epochs"
_COMPACT_LEDGER = "_compacted.json"
_EPOCH_META = "_epoch_meta.json"


class EpochReusedError(RuntimeError):
    """A batch arrived with an epoch_id the run has ALREADY used for
    different data — the signature of a checkpoint reset (Structured
    Streaming restarts epoch numbering at 0). Detected two ways: the
    epoch is below the run's newest FOLDED epoch (compaction ledger), or
    it is at/below the run's WRITTEN-epoch watermark with a different
    batch fingerprint (_epoch_meta.json, advanced at write time — so a
    reset is caught even before any compaction has run; without the
    write-time watermark, mode('overwrite') would silently replace the
    earlier batch's vectors). Silently skipping would drop the new data
    as if it were a replay; the caller must point the restarted query at
    a fresh ``run_id`` (or a fresh checkpoint AND run_id) so its epochs
    land in their own namespace."""


def _epochs_root(index_path: str) -> str:
    return os.path.join(index_path, _EPOCHS)


def _epoch_dir(index_path: str, run_id: str, epoch: int) -> str:
    return os.path.join(_epochs_root(index_path), f"run={run_id}", f"epoch={epoch}")


def _folded_epochs(index_path: str) -> dict[str, set[int]]:
    """Per-run folded-epoch sets. Legacy ledgers (a bare list from before
    run namespacing) read as run 'default'."""
    folded = swapstore.read_json(
        os.path.join(index_path, _COMPACT_LEDGER), {"folded": {}}
    )["folded"]
    if isinstance(folded, list):
        return {"default": set(folded)}
    return {run: set(v) for run, v in folded.items()}


def run_id_for_checkpoint(checkpoint: str) -> str:
    """Stable, filesystem-safe namespace for a checkpoint location — a
    NEW checkpoint directory (new query, or a reset) gets a new run_id
    only if its path differs. A SAME-PATH reset reuses the run_id and is
    caught at batch time: the run's written-epoch watermark + batch
    fingerprint (_epoch_meta.json) raises EpochReusedError the moment a
    reused epoch id arrives carrying different data, whether or not any
    compaction has folded yet."""
    return hashlib.sha256(os.path.abspath(checkpoint).encode()).hexdigest()[:16]


def _epoch_meta(index_path: str) -> dict:
    """{run: {"max_epoch": int, "max_fp": [n, xor]}} — per-run
    written-epoch watermark, advanced at WRITE time (not fold time), so
    a same-path checkpoint reset is caught even while all deltas are
    still unfolded."""
    return swapstore.read_json(os.path.join(index_path, _EPOCH_META), {})


def _advance_epoch_meta(
    index_path: str, run_id: str, epoch: int, fp: list
) -> None:
    meta = _epoch_meta(index_path)
    meta[run_id] = {"max_epoch": epoch, "max_fp": fp}
    swapstore.replace_json(os.path.join(index_path, _EPOCH_META), meta)


def _batch_fingerprint(batch_df: DataFrame) -> list:
    """Order-independent content fingerprint of a micro-batch: row count
    + XOR of per-row xxhash64(vec_id, embedding). One bounded aggregate
    over the BATCH (not the index) — replays of the same source offsets
    reproduce it exactly; a reset's new data collides with probability
    ~2^-64."""
    row = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(vec_id, embedding))").alias("x"),
    ).first()
    return [row["n"], row["x"]]


def _base(index_path: str) -> str:
    return os.path.join(index_path, "assigned")


def make_ann_batch_fn(
    index_path: str,
    dim: int,
    run_id: str = "default",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: assign the batch to the stored centroids (one
    broadcast pass, no training) and overwrite its epoch partition.

    ``run_id`` namespaces this query's epochs in the delta store and the
    compaction ledger, so pointing a second query (or a reset checkpoint
    under a new run_id) at the same index can never collide with a prior
    run's epoch numbering. Within one run, an epoch that is already
    folded is skipped only when it is the run's NEWEST folded epoch (the
    only genuinely replayable one under foreachBatch's at-least-once);
    an older folded id means the checkpoint was reset and epoch numbers
    are being reused for new data — that raises EpochReusedError rather
    than silently dropping the batch. UNFOLDED epochs are guarded the
    same way by the write-time watermark in _epoch_meta.json: an epoch
    at/below the run's last WRITTEN epoch must carry the identical batch
    fingerprint (a true replay) or it raises — so a same-path checkpoint
    reset can never silently overwrite a delta that compaction has not
    yet folded.

    Takes the single-writer lease on the index dir (r9,
    swapstore.acquire_lease) — a double-launched second writer raises
    WriterLeaseHeld instead of racing the delta/compaction protocol."""
    lease_token = swapstore.acquire_lease(
        index_path, owner=f"ann-stream:{run_id}"
    )

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        swapstore.renew_lease(index_path, lease_token)
        if batch_df.isEmpty():
            return
        folded = _folded_epochs(index_path).get(run_id, set())
        if epoch_id in folded:
            if epoch_id == max(folded):
                return  # replay of the epoch already folded into the base
            raise EpochReusedError(
                f"epoch {epoch_id} (run {run_id!r}) is below the newest "
                f"folded epoch {max(folded)} — checkpoint was reset; use a "
                "fresh run_id for the restarted query"
            )
        wm = _epoch_meta(index_path).get(
            run_id, {"max_epoch": -1, "max_fp": None}
        )
        if epoch_id < wm["max_epoch"]:
            raise EpochReusedError(
                f"epoch {epoch_id} (run {run_id!r}) is below the run's "
                f"written-epoch watermark {wm['max_epoch']} — checkpoint "
                "was reset; use a fresh run_id for the restarted query"
            )
        fp = _batch_fingerprint(batch_df)
        if epoch_id == wm["max_epoch"] and fp != wm["max_fp"]:
            raise EpochReusedError(
                f"epoch {epoch_id} (run {run_id!r}) was already written "
                "with DIFFERENT content — checkpoint was reset; a silent "
                "overwrite would lose the earlier batch's vectors. Use a "
                "fresh run_id for the restarted query"
            )
        spark = batch_df.sparkSession
        cents = spark.read.parquet(os.path.join(index_path, "centroids"))
        (
            similarity.ivf_assign(batch_df, cents, dim)
            .select("vec_id", "embedding", "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(_epoch_dir(index_path, run_id, epoch_id))
        )
        # advance the write-time watermark AFTER the data lands: a crash
        # between the two leaves watermark < written epoch, and the
        # replay (same offsets → same fingerprint) simply rewrites it
        _advance_epoch_meta(index_path, run_id, epoch_id, fp)
        # the epoch is written; free the assign path's tracked persists
        # (auto-dispatch counts the centroid frame per call) — no @query
        # wrapper runs in foreachBatch to do it
        release_persisted()

    return swapstore.attach_release(fn, index_path, lease_token)


def _on_disk_epochs(index_path: str) -> dict[str, dict[int, str]]:
    """{run: {epoch: dir}} for every delta on disk — BOTH layouts: the
    run-namespaced `run=R/epoch=N` dirs and any legacy root-level
    `epoch=N` dirs from before run namespacing (they belong to run
    'default', matching the legacy-ledger migration in _folded_epochs —
    ignoring them would silently drop un-compacted pre-upgrade deltas
    from every search and strand them forever)."""
    root = _epochs_root(index_path)
    out: dict[str, dict[int, str]] = {}
    for d in glob.glob(os.path.join(root, "run=*", "epoch=*")):
        run = os.path.basename(os.path.dirname(d)).split("=", 1)[1]
        out.setdefault(run, {})[int(os.path.basename(d).split("=", 1)[1])] = d
    for d in glob.glob(os.path.join(root, "epoch=*")):
        out.setdefault("default", {})[
            int(os.path.basename(d).split("=", 1)[1])
        ] = d
    return out


def live_assigned(spark: SparkSession, index_path: str) -> DataFrame:
    """base inverted lists ∪ un-compacted epoch deltas, one frame."""
    swapstore.recover(_base(index_path))
    base = spark.read.parquet(_base(index_path)).select(
        "vec_id", "embedding", "cell"
    )
    dirs = sorted(
        d for runs in _on_disk_epochs(index_path).values()
        for d in runs.values()
    )
    # per-dir reads (not one multi-path read): each epoch dir is its own
    # partition-discovery root for the cell= layout, and mixed
    # legacy/namespaced layouts share no consistent base path. Dir count
    # is bounded by compaction cadence, not stream length.
    for d in dirs:
        base = base.unionByName(
            spark.read.parquet(d).select("vec_id", "embedding", "cell")
        )
    return base


def ann_search_live(
    queries: DataFrame,
    index_path: str,
    dim: int,
    k: int,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k against the LIVE index (base + streamed deltas) — the same
    cell-pruned probe join as the batch search, same results the moment
    an epoch lands."""
    return similarity.ivf_index_search(
        queries, index_path, dim, k, nprobe,
        assigned=live_assigned(queries.sparkSession, index_path),
        # a crashed-then-retried compaction can transiently hold a vector
        # in both base and delta; dedup on the probed candidate set keeps
        # ranks correct through that window
        dedup_candidates=True,
    )


def compact_epochs(spark: SparkSession, index_path: str) -> int:
    """Fold every un-folded epoch delta into the base inverted lists;
    returns the number of epochs folded.

    Crash-IDEMPOTENT by construction, not by ordering: the new base is
    REBUILT as dropDuplicates(vec_id) over base ∪ deltas and swapped in
    atomically (temp + rename — vec_ids are unique, so folding the same
    delta twice collapses to one row). Whatever step a crash interrupts,
    rerunning compaction converges: a half-written temp is overwritten,
    an already-swapped base simply re-deduplicates, and the ledger +
    delta-dir cleanup happen strictly after the swap. The rebuild costs
    one pass over the index — that is what compaction IS; the streaming
    hot path never pays it (appends stay per-epoch overwrites). The swap
    and its recovery (run here and on every read) are
    ``swapstore.replace_dir``/``recover``."""
    swapstore.recover(_base(index_path))
    root = _epochs_root(index_path)
    if not os.path.isdir(root):
        return 0
    folded = _folded_epochs(index_path)
    on_disk = _on_disk_epochs(index_path)  # incl. legacy dirs as 'default'
    # clean up dirs from a crash after ledger write
    for run, epochs in on_disk.items():
        for e in set(epochs) & folded.get(run, set()):
            shutil.rmtree(epochs[e])
    todo = {
        run: sorted(set(epochs) - folded.get(run, set()))
        for run, epochs in on_disk.items()
        if set(epochs) - folded.get(run, set())
    }
    if not todo:
        return 0
    merged = live_assigned(spark, index_path).dropDuplicates(["vec_id"])
    swapstore.replace_dir(
        _base(index_path),
        merged.write.mode("overwrite").partitionBy("cell").parquet,
    )
    new_folded = {
        run: sorted(folded.get(run, set()) | set(todo.get(run, [])))
        for run in set(folded) | set(todo)
    }
    swapstore.replace_json(
        os.path.join(index_path, _COMPACT_LEDGER), {"folded": new_folded}
    )
    for run, epochs in todo.items():
        for e in epochs:
            shutil.rmtree(on_disk[run][e])
        run_dir = os.path.dirname(_epoch_dir(index_path, run, 0))
        if os.path.isdir(run_dir) and not os.listdir(run_dir):
            os.rmdir(run_dir)
    return sum(len(v) for v in todo.values())


def ann_files(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint: str,
    dim: int,
    schema: str = "vec_id long, embedding array<float>",
):
    """Drive the maintainer through the real streaming engine off a file
    source (the in-container stand-in for Kafka); availableNow drains
    what exists and stops. The run_id derives from the checkpoint path,
    so distinct queries against one index can never cross epoch
    namespaces."""
    fn = make_ann_batch_fn(index_path, dim, run_id_for_checkpoint(checkpoint))
    raw = spark.readStream.schema(schema).json(source_dir)
    return (
        raw.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
