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
directories are not opened or rewritten (byte-identical, asserted in
tests/test_upsert.py).

Writes: an upsert holds the writer lease of the table's parent directory
(fs.py), writes the touched buckets' new files beside the old ones, and
one commit lists them in the old files' place before those are deleted.
A reader through `fs.read_committed(spark, parent, table)` sees every
bucket of a merge or none.  A reader of the directory does not: between
the merge's write and the deletion right after its commit, it sees both
versions of each touched bucket, i.e. duplicate keys.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from realparse_spark.fs import LOCAL, claim, publish, read_committed, read_state

_BUCKET = "__bucket"
_META = "_upsert_meta.json"


def _bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def _read_meta(path: str) -> dict | None:
    p = os.path.join(path, _META)
    if LOCAL.exists(p):
        return json.loads(LOCAL.read_text(p))
    return None


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
    buckets and break the merge).  An existing table without the sidecar
    was not written by this function and is refused with a ValueError."""
    path = os.path.abspath(path)
    root, name = os.path.split(path)
    with LOCAL.lease(root):
        state = read_state(root) or {}
        old = claim(root, state, [name])[name]
        meta = _read_meta(path)
        if meta is None:
            if old:
                raise ValueError(f"{path} is not a bucketed upsert table: it has no {_META}")
            # the sidecar goes first: a first write that dies leaves it and
            # files that no list names, and its re-run starts over
            LOCAL.makedirs(path)
            LOCAL.write_text(os.path.join(path, _META), json.dumps({"n_buckets": n_buckets, "keys": keys}))
        elif meta["keys"] != keys:
            raise ValueError(f"table at {path} was bucketed on keys {meta['keys']}, got {keys}")
        else:
            n_buckets = int(meta["n_buckets"])

        merged = newb = new_df.withColumn(_BUCKET, _bucket_expr(keys, n_buckets))
        replaced: set[str] = set()
        if old:
            # buckets present in this batch: tiny distinct collect (<= n_buckets)
            touched = sorted(
                r[_BUCKET] for r in newb.select(_BUCKET).distinct().collect()
            )
            if not touched:
                return spark.read.parquet(path).count()
            existing = (
                spark.read.parquet(path)
                .filter(F.col(_BUCKET).isin(touched))  # partition pruning: O(batch) read
                .select(*new_df.columns, F.col(_BUCKET).cast("int").alias(_BUCKET))
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
            # replace ONLY the touched buckets' files; untouched ones stay byte-identical
            dirs = {f"{_BUCKET}={b}" for b in touched}
            replaced = {f for f in old if f.split(os.sep)[0] in dirs}
        merged.write.mode("append").partitionBy(_BUCKET).parquet(path)
        # counted under the lease: exactly this merge's commit
        return read_committed(spark, root, name, publish(root, state, [name], {name: replaced})[name]).count()
