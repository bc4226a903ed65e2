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
| rename             | os.rename (atomic)      | NOT atomic on S3 — only ever called by `publish`, which becomes the catalog commit below |
| read/write_text    | open()                  | small-object GET/PUT (sidecars become table properties) |
| rmtree             | shutil.rmtree / unlink  | batched DeleteObjects / expire-snapshots |
| lease              | blocking fcntl.flock    | a lock object taken with a conditional PUT, or the catalog's commit lock |
| publish (commit)   | replace ``_state``      | one catalog commit (Delta log entry / Iceberg snapshot swap) |

Every write takes ``lease(root)`` — the writer lock the reference takes
with ``LOCK TABLES`` (real_parse.pl:43) — writes its files in place, and
publishes with one ``publish``: an atomic replace of ``root/_state``, the
record that lists each table's files (``"files": {table: [paths relative
to the table]}``) beside whatever progress the writer keeps there.  A
reader takes no lease and reads exactly the listed files
(``read_committed``), so it sees one commit of a table or the next, never
part of one; two tables read one after the other may come from two
commits.  In a table that only these writers write (a load warehouse's,
an upsert's), a file that no list names is a dead writer's, and the next
writer of the table deletes it; in any other table the files on disk are
the table.  Every call goes through the one ``LOCAL`` object, so a port
to object storage changes this module, not `os.*` calls spread over the
operators.
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

    def data_files(self, *paths: str) -> Iterator[tuple[str, int]]:
        for path in paths:
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        yield p, os.path.getsize(p)

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as fh:
            fh.write(text)

    @contextmanager
    def lease(self, root: str) -> Iterator[None]:
        """Hold the writer lease on `root`: a blocking flock on `root/_lease`
        (kept: unlinking it would let two holders race) makes other threads
        and processes wait; the kernel drops a dead holder's lock.  Nesting
        two leases on one root in one thread waits forever."""
        self.makedirs(root)
        with open(os.path.join(root, "_lease"), "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)  # released when `fh` closes
            yield


LOCAL = LocalFS()


def read_state(root: str) -> dict | None:
    """The record last published to `root/_state`, or None before the first."""
    try:
        return json.loads(LOCAL.read_text(os.path.join(root, "_state")))
    except FileNotFoundError:
        return None


def read_committed(spark, root: str, table: str, files: list[str] | None = None):
    """`table` as the last publish to `root` listed it (or as `files`, its
    paths relative to the table, list it): exactly those files, read with
    `basePath` so that partition directories stay columns.  None while the
    published list names no file; an empty `files` raises as Spark's read
    of an empty directory does.  A reader that holds no lease sees, this
    way, one commit of the table or the next, never part of one."""
    if files is None:
        files = ((read_state(root) or {}).get("files") or {}).get(table, [])
        if not files:
            return None
    path = os.path.join(root, table)
    return spark.read.option("basePath", path).parquet(*(os.path.join(path, f) for f in files))


def claim(root: str, state: dict, tables, adopt: bool = True) -> dict[str, list[str]]:
    """Ready `tables` for the lease holder of `root` to write, and return
    their file lists (one walk of those tables).  A listed table is one
    that only this protocol's writers write: it loses every data file its
    list does not name (a dead writer's, down to a dead Spark job's
    `_temporary` files), so until the publish it holds exactly its listed
    files.  With `adopt` (a load's or an upsert's tables), an unlisted
    table -- new, or written before the lists were kept -- is listed as it
    is on disk, and that is published before anything is written, so
    whatever this writer leaves unpublished is an orphan to the next one,
    never data.  Without it (a compaction, which may be given a table that
    other jobs append to) an unlisted table stays unlisted and nothing of
    it is deleted: its files on disk, as Spark's reader sees them, are the
    table."""
    files, on_disk = state.setdefault("files", {}), _listing(root, tables)
    _drop(root, {t: on_disk.get(t, set()) - set(files[t]) for t in set(tables) & set(files)})
    new = [t for t in tables if t not in files]
    if adopt and new:
        return publish(root, state, new)
    return files | {t: sorted(filter(_shown, on_disk.get(t, ()))) for t in new}


def publish(root: str, state: dict, tables, replaced: dict[str, list[str]] | None = None) -> dict[str, list[str]]:
    """The commit.  List each of `tables` in `state` as it is on disk (one
    walk of those tables), less the files `replaced` names per table,
    replace `root/_state` with `state` in one atomic rename, and only then
    delete the replaced files.  Returns the lists.  With no `tables` (an
    unlisted table's compaction) nothing is listed or published, and the
    replaced files are deleted at once."""
    replaced, files = replaced or {}, state["files"]
    if tables:
        on_disk = _listing(root, tables)
        files |= {t: sorted(filter(_shown, on_disk.get(t, set()) - set(replaced.get(t, ())))) for t in tables}
        path = os.path.join(root, "_state")
        LOCAL.write_text(path + ".tmp", json.dumps(state))
        LOCAL.rename(path + ".tmp", path)
    _drop(root, replaced)
    return files


def _listing(root: str, tables) -> dict[str, set[str]]:
    """{table: {data file relative to the table}} for `tables` under
    `root`, in one walk of those tables alone, with the files that Spark's
    reader skips (a running or dead Spark job's, see `_shown`)."""
    found: dict[str, set[str]] = {}
    for p, _size in LOCAL.data_files(*(os.path.join(root, t) for t in tables)):
        table, _, rel = os.path.relpath(p, root).partition(os.sep)
        found.setdefault(table, set()).add(rel)
    return found


def _shown(rel: str) -> bool:
    """Whether Spark's reader reads a table's data file `rel`: not below a
    `_temporary`, `.x` or other `_x` directory (`__bucket=3` is a
    partition)."""
    return not any(d[0] == "." or d[0] == "_" and "=" not in d for d in rel.split(os.sep))


def _drop(root: str, rels: dict) -> None:
    """Delete the data files `rels` names per table, with their checksum
    files."""
    for table, names in rels.items():
        for rel in names:
            head, name = os.path.split(os.path.join(root, table, rel))
            LOCAL.rmtree(os.path.join(head, name))
            LOCAL.rmtree(os.path.join(head, f".{name}.crc"))
