"""Warehouse maintenance filesystem boundary.

The loader's watermark fetch, the bucketed upsert's swap protocol, and the
compactor's listing pass all need a handful of directory/metadata
operations.  Locally these are POSIX calls; at 100 TB the warehouse lives
in object storage behind a catalog or a transactional table format, where
each operation maps to a different primitive:

| operation          | local (``LocalFS``)     | object store / table format        |
|--------------------|-------------------------|------------------------------------|
| list_dir           | os.listdir              | ListObjectsV2 prefix listing, or the catalog's partition list (no listing at all) |
| data_files         | os.walk + getsize       | manifest/snapshot file list (Iceberg manifests, Delta log) |
| rename (dir swap)  | os.rename (atomic)      | NOT atomic on S3 — becomes a metadata commit (Delta/Iceberg snapshot swap) or a two-phase copy+delete with a pointer flip |
| read/write_text    | open()                  | small-object GET/PUT (sidecars become table properties) |
| rmtree             | shutil.rmtree           | batched DeleteObjects / expire-snapshots |

The loader, the upsert and the compactor make every such call through the
one ``LOCAL`` object, so a port to object storage changes this module, not
`os.*` calls spread over the operators; the rename-based swap then becomes
the table-format commit described in SCALE.md §Maintenance.  The surface is
deliberately tiny — anything not needed by load/upsert/compact does not
belong here.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator


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


LOCAL = LocalFS()
