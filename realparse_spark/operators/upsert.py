"""Key-based upsert (MERGE emulation) over parquet (SURVEY.md §2.8 note:
'idempotent foreachBatch MERGE' is the streaming-grade alternative to the
strictly-greater watermark).

Parquet has no transactional MERGE; the public pattern is read + combine +
swap.  On a real deployment this is one `MERGE INTO` on a table format
(Delta/Iceberg); the semantics implemented here are the same: latest-wins
per key, insert-or-replace.

Scale shape: the table is stored hash-BUCKETED on the merge keys
(`__bucket = pmod(xxhash64(keys), n_buckets)` as a hive partition dir).
A merge batch touches only the buckets its keys hash into, so the job
reads + rewrites O(batch) partitions, not O(table) — the property that
makes a streaming foreachBatch MERGE sustainable: at 100 TB a trigger
rewrites a few buckets, never restates the table.  Untouched bucket
directories are not opened, rewritten, or renamed (byte-identical,
asserted in tests/test_upsert.py).

Writes: an upsert holds the writer lease of the table's parent directory
(fs.py), stages the touched buckets, and one commit replaces them, so
writers see every bucket of a merge or none.  Readers take no lease: one
that lists the table during the commit may see some buckets replaced and
not others, or a bucket briefly absent — deployments needing lock-free
concurrent readers use a transactional table format.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from realparse_spark.fs import LOCAL

_BUCKET = "__bucket"
_META = "_upsert_meta.json"


def _bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def _read_meta(path: str) -> dict | None:
    p = os.path.join(path, _META)
    if LOCAL.exists(p):
        return json.loads(LOCAL.read_text(p))
    return None


def _write_meta(path: str, n_buckets: int, keys: list[str]) -> None:
    LOCAL.write_text(os.path.join(path, _META), json.dumps({"n_buckets": n_buckets, "keys": keys}))


def upsert_parquet(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None = None,
    n_buckets: int = 32,
) -> int:
    """Insert-or-replace by `keys`; when both sides carry a key, the row
    with the greatest `order_col` wins (new side wins ties/absence).
    Returns the resulting row count.

    The stored layout is partitioned by a key-hash bucket; `n_buckets` is
    fixed at table creation (recorded in a sidecar — later calls use the
    recorded value, because re-bucketing would silently split a key across
    buckets and break the merge).  An existing `path` without the sidecar
    was not written by this function and is refused with a ValueError."""
    path = os.path.abspath(path)
    root = os.path.dirname(path)
    with LOCAL.lease(root) as stage:
        meta = _read_meta(path)
        if meta is not None:
            if meta["keys"] != keys:
                raise ValueError(f"table at {path} was bucketed on keys {meta['keys']}, got {keys}")
            n_buckets = int(meta["n_buckets"])
        elif LOCAL.exists(path):
            raise ValueError(f"{path} is not a bucketed upsert table: it has no {_META}")

        data_cols = new_df.columns
        newb = new_df.withColumn(_BUCKET, _bucket_expr(keys, n_buckets))
        staging = os.path.join(stage, os.path.basename(path))

        if meta is None:
            # the table and its sidecar are published together, so a crash
            # never leaves a table at `path` that later calls would refuse
            newb.write.partitionBy(_BUCKET).parquet(staging)
            _write_meta(staging, n_buckets, keys)
            LOCAL.commit(root, [(staging, path)])
            return spark.read.parquet(path).count()

        # buckets present in this batch: tiny distinct collect (<= n_buckets)
        touched = sorted(
            r[_BUCKET] for r in newb.select(_BUCKET).distinct().collect()
        )
        if not touched:
            return spark.read.parquet(path).count()
        existing = (
            spark.read.parquet(path)
            .filter(F.col(_BUCKET).isin(touched))  # partition pruning: O(batch) read
            .select(*data_cols, F.col(_BUCKET).cast("int").alias(_BUCKET))
        )
        tagged_new = newb.withColumn("_src", F.lit(1))
        tagged_old = existing.withColumn("_src", F.lit(0))
        unioned = tagged_new.unionByName(tagged_old)

        order = [F.col(order_col).desc()] if order_col else []
        w = Window.partitionBy(*keys).orderBy(*order, F.col("_src").desc())
        merged = (
            unioned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        merged.write.partitionBy(_BUCKET).parquet(staging)
        # replace ONLY the touched bucket dirs; untouched dirs stay byte-identical
        LOCAL.commit(root, [
            (os.path.join(staging, f"{_BUCKET}={b}"), os.path.join(path, f"{_BUCKET}={b}"))
            for b in touched
        ])
    return spark.read.parquet(path).count()
