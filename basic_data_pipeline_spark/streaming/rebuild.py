"""Recovery helpers for the guarded streaming indexes: turn a
DirtyIndexError into one command instead of prose.

The guarded skeleton (dedup_stream.make_guarded_batch_fn) brackets every
index mutation with an INTENT marker; a crash mid-append leaves the
marker set and the next batch raises DirtyIndexError, because the index
may hold a PARTIAL append for the crashed epoch. ``rebuild_<family>_index``
performs the rebuild the error names — exactly, and at INDEX cost, not
corpus cost: every table the family's IndexSpec declares with a keep
predicate (operators/indexspec.py) is rewritten to the rows at or below
the last completed epoch's id watermark. No corpus re-scan, no re-dedup,
no re-resolve — the rebuilt index is content-equal to the index as of
the last completed epoch, and the restarted stream replays the crashed
epoch against it (its checkpoint never committed), restoring stream ==
batch equivalence.

Each table is replaced through ``swapstore.replace_dir`` and recovered
on entry (the swap and recovery contract is stated there), so re-running
a crashed REBUILD also converges. The intent marker is cleared only
after every table swapped; stale epoch outputs (> last completed epoch)
under ``out_root`` are removed so the replayed epoch rewrites them from
scratch.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import warnings

from pyspark.sql import SparkSession

from basic_data_pipeline_spark.operators import indexspec, maintenance
from basic_data_pipeline_spark.streaming import swapstore
from basic_data_pipeline_spark.streaming.dedup_stream import _write_ledger

_REBUILD_LOCKS: dict[str, threading.Lock] = {}
_REBUILD_LOCKS_GUARD = threading.Lock()


def _rebuild_guard(fn):
    """Entry guard for every rebuild helper: take over the CRASHED
    writer's lease (a rebuild asserts that writer is gone — r9) and hold
    it for the duration of the surgical rewrite so no stream or batch
    mutator can interleave (r10). _finish force-releases near the end,
    so a restarted stream can take the lease the moment the ledger is
    clean rather than at scope exit.

    Takeover discipline (r10 ADVICE): a blind force-release would also
    evict a LIVE lease held by a concurrently running rebuild — and
    since rebuild helpers never renew, the renew-time token re-verify
    backstop never fires for them, so two racing rebuilds would both
    proceed and interleave surgical rewrites. Instead: (a) two rebuilds
    in THIS process serialize on a per-path mutex (the second fails
    loudly), (b) a live lease owned by another REBUILD raises
    WriterLeaseHeld, and (c) crashed writers are taken over through
    acquire_lease's ATOMIC rename-aside steal (stale leases and
    same-process holders — a crashed stream's lease carries this live
    pid, so _is_stale alone can't clear it; any still-live displaced
    stream fail-stops at its next renew's token re-verify). A live
    lease held by another PROCESS is never stolen — wait out the ttl or
    release_lease(force=True) after verifying the holder is gone."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark, index_path, *a, **kw):
        key = os.path.abspath(index_path)
        with _REBUILD_LOCKS_GUARD:
            lock = _REBUILD_LOCKS.setdefault(key, threading.Lock())
        if not lock.acquire(blocking=False):
            raise swapstore.WriterLeaseHeld(
                f"another rebuild is already running on {index_path!r} "
                "in this process; rebuilds must not interleave"
            )
        try:
            cur = swapstore._read_lease(swapstore.lease_path(index_path))
            if (
                cur is not None
                and not swapstore._is_stale(cur)
                and str(cur.get("owner", "")).startswith("rebuild:")
            ):
                raise swapstore.WriterLeaseHeld(
                    f"{index_path!r} is held by a live rebuild "
                    f"(owner {cur.get('owner')!r}, pid {cur.get('pid')} on "
                    f"{cur.get('host')}); rebuilds must not interleave"
                )
            token = swapstore.acquire_lease(
                index_path,
                owner=f"rebuild:{fn.__name__}",
                takeover_same_process=True,
            )
            try:
                with swapstore.reentrant_scope(index_path, token):
                    return fn(spark, index_path, *a, **kw)
            finally:
                swapstore.release_lease(index_path, token)
        finally:
            lock.release()

    return wrapped


def _resolve_cutoff(state: dict, meta: dict, explicit):
    """The id watermark to keep: explicit > ledger (completed epochs) >
    build-time base max. Raises when none exists (legacy index built
    before the watermark landed AND no epoch ever completed)."""
    if explicit is not None:
        return explicit
    if state.get("max_id") is not None:
        return state["max_id"]
    if meta.get("max_id") is not None:
        return meta["max_id"]
    raise ValueError(
        "no id watermark available: the index predates watermark "
        "recording and no stream epoch has completed — pass cutoff= "
        "(the max id of the last known-complete batch) explicitly"
    )


def _rewrite(
    spark: SparkSession,
    spec: indexspec.IndexSpec,
    index_path: str,
    name: str,
    cut: indexspec.Cut,
    meta: dict,
) -> dict:
    """Cut one table back to ``cut`` and atomically swap the result in
    place. Cost: one pass over the TABLE (not the corpus) — plus its
    bucket shuffle for a bucketed table — the price of recovery, never
    paid on the hot path."""
    src = spec.path(index_path, name)
    swapstore.recover(src)
    # mergeSchema: a legacy side log upgraded in place holds files with
    # and without its tag column; the keep predicate needs the union
    df = spark.read.option("mergeSchema", "true").parquet(src)
    before = df.count()
    keep = spec.keep_rows(df, name, cut)
    if keep is df:
        warnings.warn(
            f"{name} predates watermark tagging — a crashed epoch's rows "
            "cannot be identified and are kept; the replay may append "
            "duplicates (harmless for resolution: reads are distinct-ed)",
            stacklevel=3,
        )
    bucket, sort = spec.layout(name, meta)
    maintenance.rewrite_table(
        spark, keep if bucket else keep.coalesce(1), src,
        spec.table_name(index_path, name), bucket, meta["n_buckets"], sort,
    )
    return {"rows_before": before, "rows_after": spark.read.parquet(src).count()}


def _finish(
    index_path: str, out_root: str | None, tag: str
) -> tuple[int, list[int]]:
    """Clear the intent marker (NOT last_epoch — the crashed epoch must
    replay) and drop stale epoch outputs the crashed epoch may have
    written before the ledger advanced. Also force-releases the writer
    lease (swapstore.acquire_lease): a rebuild asserts the crashed
    writer is gone, and the restarted stream must be able to take the
    lease immediately instead of waiting out the ttl."""
    swapstore.release_lease(index_path, force=True)
    ledger = indexspec.read_ledger(index_path)
    state = ledger.get(tag, {"last_epoch": -1, "intent": None})
    state["intent"] = None
    ledger[tag] = state
    _write_ledger(index_path, ledger)
    removed: list[int] = []
    if out_root is not None:
        for d in glob.glob(os.path.join(out_root, "epoch=*")):
            e = int(os.path.basename(d).split("=", 1)[1])
            if e > state["last_epoch"]:
                shutil.rmtree(d)
                removed.append(e)
    return state["last_epoch"], removed


def _bind(spec: indexspec.IndexSpec):
    def rebuild(
        spark: SparkSession,
        index_path: str,
        out_root: str | None = None,
        tag: str = "stream",
        cutoff=None,
    ) -> dict:
        meta = spec.read_meta(spark, index_path)
        state = indexspec.read_ledger(index_path).get(
            tag, {"last_epoch": -1, "intent": None}
        )
        cut = indexspec.Cut(
            _resolve_cutoff(state, meta, cutoff),
            state["last_epoch"],
            meta.get("id_col"),
        )
        report: dict = {"cutoff": cut.wm, "tables": {}}
        for t in spec.tables:
            if t.keep is not None:
                report["tables"][t.name] = _rewrite(
                    spark, spec, index_path, t.name, cut, meta
                )
        report["last_epoch"], report["stale_outputs_removed"] = _finish(
            index_path, out_root, tag
        )
        return report

    rebuild.__name__ = rebuild.__qualname__ = spec.rebuild_name
    rebuild.__doc__ = (
        f"Recover the {spec.what} from a mid-append crash: drop every row "
        "above the completed-epoch watermark from each table "
        f"indexspec.{spec.family.upper()} declares a keep predicate for, "
        "swap the filtered tables in, clear the intent marker, and remove "
        "stale epoch outputs under ``out_root``. Returns {cutoff, "
        "last_epoch, stale_outputs_removed, tables: {name: {rows_before, "
        "rows_after}}}; the restarted stream replays the crashed epoch and "
        "lands exactly where an uninterrupted run would."
    )
    return _rebuild_guard(rebuild)


rebuild_dedup_index = _bind(indexspec.DEDUP)
rebuild_substring_index = _bind(indexspec.SUBSTRING)
rebuild_entity_index = _bind(indexspec.ENTITY)
rebuild_retrieval_index = _bind(indexspec.RETRIEVAL)
rebuild_image_index = _bind(indexspec.IMAGE)
rebuild_audio_index = _bind(indexspec.AUDIO)
rebuild_graph_index = _bind(indexspec.GRAPH)
