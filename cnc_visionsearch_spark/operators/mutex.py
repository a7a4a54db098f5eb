"""Advisory single-writer lock for NON-transactional artifact layouts.

Scope (recorded in SCALE.md "Table-format stance"): the inverted
index, token-IVF, MinHash store and the NSW/HNSW graphs exist only as
transaction-log layouts, and the IVF and shard tiers arbitrate
through the log when built with ``use_tlog=True`` — optimistic
concurrency, conflict domains, snapshot isolation. This lock covers
the mutators that still run on the IVF family's LEGACY tmp+rename
layouts: ``ann.ivf_vacuum`` (the shared crash-safe vacuum rewrite) and
``ann.shard_append``. Without it two writers could interleave
partition writes there and leave a layout neither intended; with it
every mutation of one layout serializes on a create-exclusive
lockfile, and a second concurrent mutator fails LOUDLY
(:class:`LayoutBusyError`) rather than corrupting the layout.
Transactional layouts skip the lock — the commit log IS their
arbitration (see :func:`single_writer`).

Mechanics: ``os.open(..., O_CREAT | O_EXCL)`` on ``<layout>/_MUTATION_LOCK``
— the same POSIX create-exclusive primitive the tlog's commit claim
uses (sources/tlog.py), so the atomicity story is one story. The lock
file records holder pid / op / timestamp for the error message. A lock
older than ``stale_after_s`` (default 1h) is presumed crashed and
broken — breaking races resolve through the same create-exclusive
retry, so at most one breaker wins. Reference: the reference engine
relies on SQLite's single-writer file lock for the same job
(main.py:104-135); this is that contract, made explicit per-artifact.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

__all__ = [
    "LayoutBusyError",
    "layout_mutation_lock",
    "single_writer",
    "LOCK_NAME",
]

LOCK_NAME = "_MUTATION_LOCK"
STALE_AFTER_S = 3600.0


class LayoutBusyError(RuntimeError):
    """Another writer holds the layout's mutation lock. These layouts
    are SINGLE-WRITER by design — wait for the holder, or use a
    tlog-backed artifact (``use_tlog=True`` builds) when concurrent
    mutation is a requirement."""


def _holder_alive(lock: str) -> bool:
    """True when the lockfile's recorded holder PID exists on THIS
    host (or the file is unreadable — conservative: never break a lock
    we cannot attribute). kill(pid, 0) probes existence without
    signaling. Caveats (safe direction = refuse to break): a reused
    PID or a cross-host holder on a shared filesystem reads as alive,
    deferring to the operator instead of risking a wrong break."""
    try:
        with open(lock) as f:
            pid = int(json.loads(f.read(512)).get("pid", 0))
    except (OSError, ValueError, json.JSONDecodeError):
        return True
    if pid <= 0:
        return True
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:  # pragma: no cover — exists, other user
        return True


@contextmanager
def layout_mutation_lock(
    path: str, op: str = "mutate", stale_after_s: float = STALE_AFTER_S
):
    """Hold the layout's single-writer mutation lock for the block.

    Raises :class:`LayoutBusyError` (loud, with holder info) if another
    mutator holds it; breaks locks older than ``stale_after_s`` (a
    crashed holder — tmp+rename layouts heal their partial writes via
    ``_heal_artifact_dir``, so breaking is safe)."""
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, LOCK_NAME)
    fd = None
    for attempt in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                st = os.stat(lock)
            except OSError:
                continue  # holder released between open and stat: retry
            age = time.time() - st.st_mtime
            if age > stale_after_s and attempt == 0 and not _holder_alive(lock):
                # Presumed crashed holder — and the recorded holder
                # PID is provably dead (kill(pid, 0) fails), so the
                # "slow-but-live holder releases mid-break" leg of the
                # r10 TOCTOU race cannot occur: a dead process cannot
                # release. A blind unlink would still race a NEW
                # writer that acquired after the dead holder's lock
                # was broken by someone else — rename() is the atomic
                # grab: move whatever is at the lock path aside, then
                # VERIFY by inode that we grabbed the stale file we
                # observed. Residuals (documented, conservative): PID
                # reuse or a cross-host holder on a shared FS make
                # _holder_alive return True and the break is REFUSED —
                # the safe direction (operator intervention over a
                # wrong break); a no-hardlink filesystem fails the
                # restore link() loudly rather than clobbering.
                grabbed = f"{lock}.break.{os.getpid()}"
                try:
                    os.rename(lock, grabbed)
                except OSError:
                    continue  # lock vanished under us: re-race create
                try:
                    got = os.stat(grabbed)
                except OSError:  # pragma: no cover
                    continue
                if (got.st_ino, got.st_mtime) == (st.st_ino, st.st_mtime):
                    os.unlink(grabbed)  # confirmed stale: break it
                    continue
                # We grabbed a FRESH lock (holder released + new writer
                # acquired inside our window). Restore it atomically —
                # link() fails rather than clobbers if yet another
                # writer claimed the now-empty path — and report busy.
                try:
                    os.link(grabbed, lock)
                except OSError:  # pragma: no cover — triple race;
                    pass  # the third writer's claim stands
                os.unlink(grabbed)
                raise LayoutBusyError(
                    f"layout {path} mutation lock was re-acquired "
                    "during a stale-break attempt: another writer is "
                    "live — wait for it, or build with use_tlog=True "
                    "for arbitrated concurrent mutation"
                )
            holder = ""
            try:
                with open(lock) as f:
                    holder = f.read(512)
            except OSError:
                pass
            raise LayoutBusyError(
                f"layout {path} is being mutated by another writer "
                f"({holder or 'holder info unavailable'}; lock age "
                f"{age:.0f}s): these layouts are single-writer — wait "
                "for the holder, or build with use_tlog=True for "
                "arbitrated concurrent mutation"
            )
    if fd is None:  # pragma: no cover — both attempts lost the race
        raise LayoutBusyError(
            f"layout {path} mutation lock contended during stale-break"
        )
    try:
        os.write(
            fd,
            json.dumps(
                {"pid": os.getpid(), "op": op, "ts": time.time()}
            ).encode(),
        )
        os.close(fd)
        fd = None
        yield
    finally:
        if fd is not None:
            os.close(fd)
        try:
            os.unlink(lock)
        except OSError:  # pragma: no cover
            pass


def single_writer(op: str):
    """Decorator form for mutators with the ``(spark, path, ...)``
    calling convention: holds :func:`layout_mutation_lock` on ``path``
    for the call. TRANSACTIONAL layouts (a ``_tlog/`` dir exists) skip
    the lock entirely — their mutations arbitrate through the commit
    log's optimistic concurrency, and serializing them here would
    forbid exactly the concurrent blind appends the tlog exists to
    allow."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, path, *a, **k):
            if os.path.isdir(os.path.join(path, "_tlog")):
                return fn(spark, path, *a, **k)
            with layout_mutation_lock(path, op):
                return fn(spark, path, *a, **k)

        return wrapper

    return deco
