"""The one build-once on-disk index store behind every persisted ANN and
dedup index: the IVF lists (``ivf_index``), the IVF-PQ and IVF-SQ8 code
indexes (``ivf_pq_index``, ``ivf_sq8_index``), the MinHash band and
shingle stores (``neardup_index``), the SemDeDup member-embedding index
(``semingest_index``), the packed sign-bit sketches (``hamming_sketch``)
and the Matryoshka prefix stores (``mrl_prefix``).

``index_dir(kind, sf_dir, table, build)`` is the single entry point: it
returns the directory of a COMPLETE store for the current version of
``<sf_dir>/<table>.parquet``, building it with ``build(staging_dir)``
only when no complete store exists.  The directory name derives from
the dataset path and its content fingerprint, never from the process,
so a restarted process (or a sibling session) adopts a finished store
instead of rebuilding it, and a rewritten dataset gets a fresh one.

Crash safety: a build lands in a ``<final>.tmp<pid>`` staging dir and
is RENAMED into place only after its ``_COMPLETE`` marker (the exact
dataset stamp) is written.  A crashed or raising build therefore
leaves at most a staging dir, which is never adopted; the same
process's next call clears it before rebuilding, its exit hook removes
it, and the age-based GC reaps any other process's leftovers.  The
marker is re-read on every call, so a store that was partially
deleted or GC'd underneath a live process is rebuilt instead of being
handed to Spark as a dead path.  Complete stores are never removed at
process exit: an overlapping process may be mid-read, so their
lifetime is age-based (``_INDEX_STORE_TTL_S``; every adoption
refreshes the store's mtime).  In production the same protocol runs on
cluster storage, where the marker doubles as the commit record.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import tempfile
import time
from typing import Callable

from mapreduceplusplus_spark.sources.tables import dataset_fingerprint

#: age past which an UNTOUCHED complete store is garbage (readers
#: refresh the dir mtime on every adoption, so anything an overlapping
#: process is actively serving stays young); stale ``.tmp*`` staging
#: dirs (crashed builders) expire much sooner
_INDEX_STORE_TTL_S = 6 * 3600
_INDEX_STAGING_TTL_S = 3600

#: one GC pass per process — the root holds O(datasets) small dirs, but
#: re-listing it on every probe would be pointless churn
_index_root_gc_done = False


def index_dir(
    kind: str, sf_dir: str, table: str, build: Callable[[str], None]
) -> str:
    """Path of the complete ``kind`` store for the current version of
    ``<sf_dir>/<table>.parquet``; ``build(d)`` writes a new store into
    the empty staging path ``d`` and runs only when none is complete.

    Concurrency: the staging dir is pid-suffixed, and installation is
    RENAME-FIRST — if the rename fails because a concurrent builder
    won, the finished store is adopted and the staging copy dropped, so
    a complete store is never deleted by a racing builder (only a store
    whose marker is absent or mismatched, which by definition serves
    no one, is cleared before the rename is retried)."""
    stamp = repr((os.path.abspath(sf_dir), dataset_fingerprint(sf_dir, table)))
    h = hashlib.md5(stamp.encode()).hexdigest()[:16]
    final = os.path.join(_index_store_root(), f"{kind}_{h}")

    if _store_complete(final, stamp):
        _touch_store(final)  # keep the TTL GC off an actively-read store
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write(stamp)
    for _attempt in (1, 2):
        try:
            os.rename(tmp, final)
            return final
        except OSError:
            if _store_complete(final, stamp):  # concurrent builder won
                shutil.rmtree(tmp, ignore_errors=True)
                _touch_store(final)
                return final
            # stale/partial leftover (not serving anyone) — clear, retry
            shutil.rmtree(final, ignore_errors=True)
    raise RuntimeError(f"could not install index store at {final}")


def _index_store_root() -> str:
    """Per-user 0700 root for the stores.  A bare deterministic /tmp
    path would let any local user pre-create a store with a forged
    ``_COMPLETE`` marker and have another user's queries silently serve
    attacker-controlled data; the uid-scoped root is created 0700, and
    adoption refuses a root some other uid owns."""
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"mrpp_index_u{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise RuntimeError(
            f"index store root {root} is owned by uid {st.st_uid}, "
            f"not the current user — refusing to trust its contents"
        )
    os.chmod(root, 0o700)
    _gc_index_store_root(root)
    return root


def _gc_index_store_root(root: str) -> None:
    """Age-based hygiene, once per process on first access: remove (a)
    complete stores whose dir mtime is older than ``_INDEX_STORE_TTL_S``
    — adoption refreshes the mtime, so any store an overlapping process
    is serving stays young — and (b) ``.tmp*`` staging leftovers older
    than ``_INDEX_STAGING_TTL_S`` (a crashed builder's debris; a live
    builder finishes in seconds).  Deleting only the old makes the
    sweep safe to run concurrently with any number of readers and
    builders."""
    global _index_root_gc_done
    if _index_root_gc_done:
        return
    _index_root_gc_done = True
    now = time.time()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in entries:
        d = os.path.join(root, name)
        try:
            age = now - os.stat(d).st_mtime
        except OSError:
            continue  # concurrently removed — fine
        ttl = _INDEX_STAGING_TTL_S if ".tmp" in name else _INDEX_STORE_TTL_S
        if age > ttl:
            shutil.rmtree(d, ignore_errors=True)


def _store_complete(d: str, stamp: str) -> bool:
    try:
        with open(os.path.join(d, "_COMPLETE")) as fh:
            return fh.read() == stamp
    except OSError:
        return False


def _touch_store(d: str) -> None:
    try:
        os.utime(d, None)
    except OSError:
        pass


def _remove_own_staging() -> None:
    """Exit hook: remove only THIS process's ``.tmp<pid>`` staging
    dirs.  Complete stores stay for overlapping and later processes."""
    try:
        root = _index_store_root()
    except (OSError, RuntimeError):
        return
    for d in glob.glob(os.path.join(root, f"*.tmp{os.getpid()}")):
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_remove_own_staging)
