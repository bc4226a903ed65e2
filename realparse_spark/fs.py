"""Warehouse filesystem boundary and its one write protocol.

The loader, the upsert, the compactor and the snapshot cache need a
handful of directory/metadata operations and one way to publish what they
wrote.  Locally these are POSIX calls; at 100 TB the warehouse lives in
object storage behind a catalog or a transactional table format, where
each operation maps to a different primitive:

| operation          | local (``LocalFS``)     | object store / table format        |
|--------------------|-------------------------|------------------------------------|
| list_dir           | os.listdir              | ListObjectsV2 prefix listing, or the catalog's partition list (no listing at all) |
| data_files         | os.walk + getsize       | manifest/snapshot file list (Iceberg manifests, Delta log) |
| rename             | os.rename (atomic)      | NOT atomic on S3 — only ever called by `commit`, which becomes the catalog commit below |
| read/write_text    | open()                  | small-object GET/PUT (sidecars become table properties) |
| rmtree             | shutil.rmtree / unlink  | batched DeleteObjects / expire-snapshots |
| lease              | blocking fcntl.flock    | a lock object taken with a conditional PUT, or the catalog's commit lock |
| commit             | record + renames        | one catalog commit (Delta log entry / Iceberg snapshot swap) |

Every write takes ``lease(root)`` — the writer lock the reference takes
with ``LOCK TABLES`` (real_parse.pl:43) — writes into the stage it yields,
and publishes with one ``commit``, so a writer that dies publishes all or
nothing.  Readers take no lease.  Every call goes through the one
``LOCAL`` object, so a port to object storage changes this module, not
`os.*` calls spread over the operators.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager


class LocalFS:
    """The maintenance operations on a POSIX filesystem — the local[/test] warehouse."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_dir(self, path: str) -> list[str]:
        return os.listdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rmtree(self, path: str) -> None:
        if os.path.isfile(path):
            os.remove(path)
        shutil.rmtree(path, ignore_errors=True)

    def data_files(self, path: str, suffix: str = ".parquet") -> Iterator[tuple[str, int]]:
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(suffix):
                    p = os.path.join(root, f)
                    yield p, os.path.getsize(p)

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as fh:
            fh.write(text)

    @contextmanager
    def lease(self, root: str) -> Iterator[str]:
        """Hold the writer lease on `root` and yield `root/_stage`, not yet
        created.  A blocking flock on `root/_lease` (kept: unlinking it would
        let two holders race) makes other threads and processes wait; the
        kernel drops a dead holder's lock, and entry finishes its commit and
        clears its stage.  Nesting two leases on one root in one thread
        waits forever."""
        self.makedirs(root)
        record, stage = os.path.join(root, "_commit"), os.path.join(root, "_stage")
        with open(os.path.join(root, "_lease"), "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)  # released when `fh` closes
            if self.exists(record):
                self._apply(record, json.loads(self.read_text(record)))
            self.rmtree(stage)
            yield stage
            # not on an exception: a commit that raised keeps its record and
            # the staged files it still has to publish
            self.rmtree(stage)

    def commit(self, root: str, renames: list[tuple[str, str]]) -> None:
        """Publish `(src, dst)` pairs, in order, for the lease holder of
        `root`: record them in `root/_commit`, apply them, drop the record.
        A pair means "if src exists, replace dst with it", so the next lease
        can apply a record again to finish a commit that died partway."""
        record = os.path.join(root, "_commit")
        self.write_text(record + ".tmp", json.dumps(renames))
        self.rename(record + ".tmp", record)
        self._apply(record, renames)

    def _apply(self, record: str, renames: list[tuple[str, str]]) -> None:
        # one call per pair, unless its src is gone (applied before), its
        # dst's parent is new, or its dst is a directory
        for src, dst in renames:
            try:
                self.rename(src, dst)
            except FileNotFoundError:
                if self.exists(src):
                    self.makedirs(os.path.dirname(dst))
                    self.rename(src, dst)
            except OSError:  # dst is a non-empty directory
                self.rmtree(dst)
                self.rename(src, dst)
        self.rmtree(record)


LOCAL = LocalFS()
