"""Build-once parquet snapshot cache shared by the dedup/graph/similarity
index builders.

A *snapshot* is a derived on-disk table (inverted posting index, cluster
table, co-order edge list, ANN index) keyed by a content fingerprint of its
source parquet plus build parameters.  Every builder installs under the
warehouse's writer lease (fs.py), with the snapshot's own directory
``<prefix><hash>/`` as the lease root; the table(s) go to its ``data/``
subdirectory, so a builder's ``mode("overwrite")`` never deletes the
``_lease`` file that a waiting builder locks:

1. ``<prefix><hash>/_SUCCESS`` is the snapshot's commit and gates reuse; it
   is written only after the build returns.  The marker is re-checked even
   on in-memory cache hits, so an externally wiped /tmp triggers a rebuild
   instead of a failed read of a vanished table.
2. A missing snapshot is built under the key's lease, which serializes
   threads and processes alike: the first clears what a dead builder left
   in ``data/``, builds there and writes the marker; the others wait,
   re-check the marker and use its table.
3. A completed snapshot is never rebuilt or deleted — a concurrent reader
   may hold a lazy Spark plan over its part-files.

At 100 TB the same protocol maps onto an object store: the fingerprint key
becomes the source table's snapshot id and the marker a conditional PUT.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from realparse_spark.fs import LOCAL


# Folded into every fingerprint key.  The data fingerprint (mtime/size)
# invalidates snapshots when the SOURCE changes, but nothing else would
# invalidate them when the BUILDER changes: /tmp outlives processes, so a
# code change that alters a derived artifact's content or schema would
# silently serve the previous version's table to the new code.  Bump this
# on ANY such change (round 7: prefix-index token ids int -> bigint via
# the distributed rank; version 3: the LSH index holds (vec_id, sketch)
# postings only, and its sketches change for vectors whose width is not
# 64; version 4: each table moved to its snapshot's ``data/``
# subdirectory).  Trade-off, deliberate: one global version rebuilds
# EVERY snapshot family on a bump — acceptable here (seconds at
# test scale, and correctness beats rebuild cost); a production system
# with 100 TB derived tables would scope a version per artifact family
# (one more `extras` element per builder) to bound the blast radius.
# Old-version directories in /tmp are left for the OS tmp reaper —
# deleting them could yank part-files from a concurrent reader's plan.
SNAPSHOT_VERSION = 4

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

    ``build`` must write the snapshot's table(s) under ``tmp_dir``; the
    marker is written after it returns, so a multi-table snapshot gets one
    only after every sub-table landed.  ``cache`` maps ``key`` to the
    snapshot's lease root, the parent of the returned directory.
    """
    root = cache.get(key) or os.path.join(
        tempfile.gettempdir(),
        prefix + hashlib.md5(repr(key).encode()).hexdigest()[:12],
    )
    path, done = os.path.join(root, "data"), os.path.join(root, "_SUCCESS")
    if not os.path.isfile(done):
        with LOCAL.lease(root):
            if not os.path.isfile(done):  # no other builder finished meanwhile
                LOCAL.rmtree(path)
                build(path)
                LOCAL.write_text(done, "")
    cache[key] = root
    return path
