"""Build-once parquet snapshot cache shared by the dedup/graph/similarity
index builders.

A *snapshot* is a derived on-disk table (inverted posting index, cluster
table, co-order edge list, ANN index) keyed by a content fingerprint of its
source parquet plus build parameters.  All builders share ONE install
protocol, safe under concurrent builder processes sharing a tmpdir AND
under concurrent lazy readers:

1. ``_SUCCESS`` (not just the directory) gates reuse — a directory left by
   a crashed pre-rename writer is recomputed, not trusted.  The marker is
   re-checked even on in-memory cache hits, so an externally wiped /tmp
   triggers a rebuild instead of a failed read of a vanished table.
2. Builders write into a process-unique ``.tmp-<pid>`` directory, then
   RE-CHECK the destination: if another writer completed install while we
   were building, our tmp is discarded and the winner's table is used (the
   key fingerprints inputs + parameters, so both tables are equivalent).
   A completed snapshot is NEVER deleted — a concurrent reader may hold a
   lazy Spark plan over its part-files.
3. Only a PARTIAL destination (directory lacking ``_SUCCESS``) is cleared
   before the atomic rename; losing the rename race discards tmp and
   falls back to the winner's table.

At 100 TB the same protocol maps onto an object store: the fingerprint key
becomes the source table's snapshot id, tmp becomes a staging prefix, and
the atomic rename becomes a metastore pointer swap — the invariant to
preserve is identical (never delete an installed snapshot a reader may
hold; writers race by re-checking, not by clobbering).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import weakref
from collections.abc import Callable


# Folded into every fingerprint key.  The data fingerprint (mtime/size)
# invalidates snapshots when the SOURCE changes, but nothing else would
# invalidate them when the BUILDER changes: /tmp outlives processes, so a
# code change that alters a derived artifact's content or schema would
# silently serve the previous version's table to the new code.  Bump this
# on ANY such change (round 7: prefix-index token ids int -> bigint via
# the distributed rank).  Trade-off, deliberate: one global version
# rebuilds EVERY snapshot family on a bump — acceptable here (seconds at
# test scale, and correctness beats rebuild cost); a production system
# with 100 TB derived tables would scope a version per artifact family
# (one more `extras` element per builder) to bound the blast radius.
# Old-version directories in /tmp are left for the OS tmp reaper —
# deleting them could yank part-files from a concurrent reader's plan.
SNAPSHOT_VERSION = 2

# Every snapshot family's directory prefix (the ``prefix`` argument each
# builder passes to ``snapshot_path``).  Kept here so a benchmark can find
# exactly the cross-run snapshot caches — and nothing else — when it sizes
# what the cache stored.  Per-process scratch dirs
# (``mkdtemp(prefix="realparse_...")``) are NOT listed: they are never
# reused across runs.
SNAPSHOT_PREFIXES = (
    "realparse_bpe_",
    "realparse_clusters_",
    "realparse_coedges_",
    "realparse_ivf_",
    "realparse_lsh_",
    "realparse_mhsig_",
    "realparse_postings_",
    "realparse_prefidx_",
    "realparse_tfidf_",
    "realparse_winnow_",
)


def fingerprint_key(sf_dir: str, table: str, *extras) -> tuple:
    """Content fingerprint of ``<sf_dir>/<table>.parquet`` plus build
    params — a regenerated-in-place fixture changes mtime/size and
    invalidates every dependent snapshot (no stale-index reuse), and
    ``SNAPSHOT_VERSION`` invalidates them all when builder semantics
    change."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    # version goes LAST so key[0] stays the sf_dir (tests and diagnostics
    # select a fixture's cache entries by that position)
    return (
        os.path.abspath(sf_dir),
        int(st.st_mtime_ns),
        st.st_size,
        *extras,
        SNAPSHOT_VERSION,
    )


def snapshot_path(
    cache: dict[tuple, str],
    key: tuple,
    prefix: str,
    build: Callable[[str], None],
) -> str:
    """Return the directory of the installed snapshot for ``key``,
    building it via ``build(tmp_dir)`` if absent.

    ``build`` must write the snapshot's table(s) under ``tmp_dir``; a
    top-level ``_SUCCESS`` marker is ensured afterwards (Spark's parquet
    writer creates one for single-table snapshots; multi-table builders
    get one added only after every sub-table landed).
    """
    path = cache.get(key)
    if path is not None and os.path.isfile(os.path.join(path, "_SUCCESS")):
        return path
    # THREADS in one process need the same discipline as processes: the
    # tmp dir below is pid-keyed, so two threads building the SAME key
    # would write into one directory and corrupt each other's parquet
    # (observed once the test suite started thread-pooling its all-query
    # sweeps).  One lock per key serializes same-key builders in-process;
    # distinct keys still build concurrently, and the cross-process story
    # (steps 1-3 in the module docstring) is unchanged.  The map holds its
    # locks weakly: an entry lives while some builder of that key holds the
    # lock object, so a long-lived process keeps no lock per key it built.
    with _KEY_LOCKS_GUARD:
        key_lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:
        return _snapshot_path_locked(cache, key, prefix, build)


_KEY_LOCKS: weakref.WeakValueDictionary[tuple, threading.Lock] = weakref.WeakValueDictionary()
_KEY_LOCKS_GUARD = threading.Lock()


def _snapshot_path_locked(
    cache: dict[tuple, str],
    key: tuple,
    prefix: str,
    build: Callable[[str], None],
) -> str:
    path = cache.get(key)
    if path is not None and os.path.isfile(os.path.join(path, "_SUCCESS")):
        return path
    path = os.path.join(
        tempfile.gettempdir(),
        prefix + hashlib.md5(repr(key).encode()).hexdigest()[:12],
    )
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{os.getpid()}"
        build(tmp)
        if not os.path.isfile(os.path.join(tmp, "_SUCCESS")):
            with open(os.path.join(tmp, "_SUCCESS"), "w"):
                pass
        if os.path.isfile(os.path.join(path, "_SUCCESS")):
            # another writer installed a complete snapshot while we built —
            # use theirs, never delete it out from under its readers
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # only a PARTIAL directory (crashed pre-rename writer) is
            # cleared; then the rename lands atomically
            shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                # lost the rename race — the winner's table is equivalent
                shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isfile(os.path.join(path, "_SUCCESS")):
            raise RuntimeError(f"snapshot install failed for {path}")
    cache[key] = path
    return path
