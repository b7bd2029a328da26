"""The one owner of cached and checkpointed intermediates.

Every persist and lineage cut in the package is taken here, and each has
exactly one of two lifetimes:

* **Scope.** ``with held() as h:`` — ``h.persist(df, level)``,
  ``h.cut(df)`` (lineage cut), ``h.step(old, new)`` (cut ``new``, then
  free ``old``: the 1×-storage loop idiom), ``h.free(df)`` (free early,
  once nothing reads ``df`` again). The scope frees everything it still
  holds on EVERY exit: return, raise, non-convergence. An
  operator's own intermediates (edge layouts, per-round frames, stage
  cuts) live here.
* **Session.** ``h.keep(df)`` hands a held frame over, and
  :func:`tracked_persist` / :func:`tracked_local_checkpoint` take one
  directly: it lives until the next :func:`release_persisted`. The
  registry's ``@query`` wrapper calls that before each query (the
  previous query's consuming action has completed by then), and the
  guarded stream calls it at the end of each epoch. A frame the caller
  consumes after the operator returns — a result, or a persisted input
  of a lazily returned plan — lives here.

Freeing a persisted frame drops its cache; reading it again recomputes
it. Freeing a cut frame drops its ONLY copy — there is no lineage left
to recompute from — so a freed cut is dead: a cut that a returned frame
still reads must be kept, never left to the scope.

Why cuts need their own free: ``localCheckpoint`` persists its blocks at
the RDD level and never registers them with the CacheManager, so
``DataFrame.unpersist()`` frees nothing (tests/test_caching.py pins
this). A cut therefore keeps a handle on the RDD it persisted, read from
its own plan, and frees it through that handle. (The block-status
listing, ``getRDDStorageInfo``, cannot name it reliably: the listener
bus fills it asynchronously, so a just-taken cut may be missing.) All
frees are non-blocking.

Lineage-cut modes, chosen per session with :func:`set_lineage_cut_mode`
(or :func:`lineage_cut_scope`); every cut inherits it:

* ``local`` (default) — ``localCheckpoint(eager=True)``. Blocks live
  only on executors: the fastest cut and the right one on a single box,
  but not fault-tolerant. On a cluster, one lost executor makes the
  truncated lineage unrecoverable; and the prefix-sum sites pin their
  cut for determinism (``repartitionByRange`` samples boundaries per
  execution), so a silent recompute would not be safe either.
* ``reliable`` — each cut is staged to parquet under a durable directory
  (HDFS/S3 on a cluster) and read back with an explicit schema. Executor
  loss costs a re-read of the staged files, never a recompute, and the
  determinism pins hold because the staged bytes are the pinned
  assignment. Costs one parquet write and read per cut.

Results are bit-identical across modes (tests/test_lineage_cut.py).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

#: session-lifetime frames, freed by release_persisted
_TRACKED: list[DataFrame] = []

#: session-level lineage-cut configuration (see module docstring)
_LINEAGE_CUT: dict = {"mode": "local", "dir": None, "seq": 0}


def set_lineage_cut_mode(mode: str, staging_dir: str | None = None) -> None:
    """Choose how iterative operators cut lineage for THIS session.

    ``local``: executor-resident localCheckpoint (fast; single-box).
    ``reliable``: parquet staging under ``staging_dir`` — survives
    executor loss; point the dir at a durable FS (HDFS/S3) on a real
    cluster. ``staging_dir`` is required for (and only meaningful in)
    reliable mode.
    """
    if mode not in ("local", "reliable"):
        raise ValueError(f"lineage_cut_mode must be 'local' or 'reliable': {mode!r}")
    if mode == "reliable":
        if not staging_dir:
            raise ValueError("reliable lineage cuts need staging_dir=")
        os.makedirs(staging_dir, exist_ok=True)
    _LINEAGE_CUT["mode"] = mode
    _LINEAGE_CUT["dir"] = staging_dir if mode == "reliable" else None


def lineage_cut_mode() -> str:
    return _LINEAGE_CUT["mode"]


@contextlib.contextmanager
def lineage_cut_scope(mode: str, staging_dir: str | None = None):
    """Temporarily switch the lineage-cut mode (tests, one-off jobs)."""
    prev_mode, prev_dir = _LINEAGE_CUT["mode"], _LINEAGE_CUT["dir"]
    set_lineage_cut_mode(mode, staging_dir)
    try:
        yield
    finally:
        _LINEAGE_CUT["mode"], _LINEAGE_CUT["dir"] = prev_mode, prev_dir


def _persist(df: DataFrame, level: StorageLevel | None) -> DataFrame:
    return df.persist() if level is None else df.persist(level)


def _cut(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage per the session's mode and return the cut
    frame, tagged with what frees it.

    ``reliable`` mode reads the staged parquet back with the frame's own
    schema passed explicitly: an all-empty write produces no part files,
    and schema inference over an empty directory would fail where the
    local mode returns an empty frame. Like every parquet round-trip,
    the read-back relaxes nullability; names, types and values are
    bit-identical across modes."""
    if _LINEAGE_CUT["mode"] == "reliable":
        _LINEAGE_CUT["seq"] += 1
        path = os.path.join(
            _LINEAGE_CUT["dir"],
            f"cut-{os.getpid()}-{_LINEAGE_CUT['seq']}-{time.time_ns()}",
        )
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.schema(df.schema).parquet(path)
        out._ckpt_stage_path = path  # type: ignore[attr-defined]
        return out
    out = df.localCheckpoint(eager=True)
    # the analyzed plan of a local checkpoint is the LogicalRDD over the
    # RDD it persisted
    out._ckpt_rdd = out._jdf.queryExecution().analyzed().rdd()  # type: ignore[attr-defined]
    return out


def free_local_checkpoint(df: DataFrame) -> None:
    """Free a cut frame's storage now (its blocks in local mode, its
    staged directory in reliable mode); the frame is dead afterwards. A
    no-op on any other frame, and on a second call."""
    path = getattr(df, "_ckpt_stage_path", None)
    rdd = getattr(df, "_ckpt_rdd", None)
    df._ckpt_stage_path = df._ckpt_rdd = None  # type: ignore[attr-defined]
    if path is not None:
        shutil.rmtree(path, ignore_errors=True)
    if rdd is not None:
        try:
            rdd.unpersist(False)
        except Exception:
            pass  # session already stopped; nothing to free


def release(df: DataFrame) -> None:
    """Free ``df``'s storage now, whichever kind it holds."""
    if (
        getattr(df, "_ckpt_stage_path", None) is not None
        or getattr(df, "_ckpt_rdd", None) is not None
    ):
        free_local_checkpoint(df)
        return
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped; nothing to free


class Held:
    """The frames one :func:`held` scope owns (see the module docstring)."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def persist(self, df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
        """``df.persist(level)`` (the default level when None), held."""
        out = _persist(df, level)
        self._frames.append(out)
        return out

    def cut(self, df: DataFrame) -> DataFrame:
        """Lineage cut of ``df`` in the session's mode, held."""
        out = _cut(df)
        self._frames.append(out)
        return out

    def step(self, old: DataFrame | None, new: DataFrame) -> DataFrame:
        """Cut ``new``, then free ``old`` if this scope holds it: one
        round's storage at a time in an iterative loop."""
        out = self.cut(new)
        self.free(old)
        return out

    def free(self, df: DataFrame | None) -> None:
        """Free ``df`` now if this scope holds it (a no-op otherwise)."""
        if self._take(df):
            release(df)

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand ``df`` over to session lifetime (the next
        release_persisted frees it); returns ``df``."""
        self._take(df)
        _TRACKED.append(df)
        return df

    def _take(self, df: DataFrame) -> bool:
        for i, f in enumerate(self._frames):
            if f is df:
                del self._frames[i]
                return True
        return False


@contextlib.contextmanager
def held() -> Iterator[Held]:
    """Scope-lifetime storage: frees what the scope holds on any exit."""
    h = Held()
    try:
        yield h
    finally:
        for df in reversed(h._frames):
            release(df)
        h._frames.clear()


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` with session lifetime."""
    out = _persist(df, None)
    _TRACKED.append(out)
    return out


def tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """Lineage cut of ``df`` with session lifetime."""
    out = _cut(df)
    _TRACKED.append(out)
    return out


def release_persisted() -> int:
    """Free every session-lifetime frame; returns how many. Safe at any
    time: a freed persisted frame recomputes if re-used, a freed cut is
    dead."""
    n = len(_TRACKED)
    for df in _TRACKED:
        release(df)
    _TRACKED.clear()
    return n
