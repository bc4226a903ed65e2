"""Small-file compaction for append-heavy parquet tables.

The incremental load appends a few files per run; after thousands of cron
runs (the reference ran per-day forever) a table becomes millions of tiny
files and listing/open costs dominate every scan — the classic small-files
problem.  `compact_table` rewrites a table into ~target-sized files under
the writer lease of the table's parent directory — for a warehouse table,
the warehouse, so a compaction and a load take turns.  The rewrite reads
the files listed when the lease was taken, is written beside them, one
commit (fs.py) lists it in their place, and only then are those files
deleted, so a reader of the listed files sees old or new, never a mix and
never an empty table.  Only a table that a load or an upsert lists in
`_state` is written by nothing else: there the compaction first deletes
unlisted files (a dead writer's).  Any other table stays unlisted, and
the compaction deletes nothing but the files it rewrote, so what another
job appends meanwhile is kept; a compaction of such a table that dies
between its write and that deletion leaves its rewrite beside the old
files, and a reader of the directory sees those rows twice.

Partitioned tables are compacted per partition directory so partition
pruning keeps working on the result.
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from realparse_spark.fs import LOCAL, claim, publish, read_committed, read_state


def table_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet table path."""
    n = 0
    total = 0
    for _p, size in LOCAL.data_files(path):
        n += 1
        total += size
    return n, total


def _leaf_partition_bytes(path: str, partition_by: list[str]) -> dict[tuple, int]:
    """Per-partition-VALUE data bytes, keyed by the string values parsed
    from the hive-style `k=v` directory names.  Pure filesystem metadata —
    no data read; at 100 TB this is the manifest/snapshot listing every
    metastore-style compactor already does (see fs.py's mapping table)."""
    stats: dict[tuple, int] = {}
    for p, size in LOCAL.data_files(path):
        vals: dict[str, str] = {}
        for part in os.path.relpath(os.path.dirname(p), path).split(os.sep):
            if "=" in part:
                k, v = part.split("=", 1)
                vals[k] = urllib.parse.unquote(v)
        key = tuple(vals.get(c) for c in partition_by)
        stats[key] = stats.get(key, 0) + size
    return stats


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    zorder_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite `path` into ~target_file_bytes files.  Unpartitioned: one
    coalesce to total//target files.  Partitioned: each partition VALUE is
    salted into ceil(its_bytes / target) buckets — sized from the listing
    pass, so a hot partition splits into many ~target files instead of one
    giant single-task file (a skewed `repartition(n, *partition_by)` would
    hash every row of a partition value into ONE task).

    `zorder_cols` (unpartitioned tables): instead of an order-preserving
    coalesce, re-cluster the rewrite on the Morton key of the given
    numeric columns (layout.py) — compaction is THE moment to fix data
    locality, since the table is being rewritten anyway; every later
    multi-dimensional filter then skips most of the compacted files.
    Returns (files_before, files_after)."""
    if zorder_cols and partition_by:
        raise ValueError(
            "zorder_cols currently applies to unpartitioned tables only"
        )
    path = os.path.abspath(path)
    root, name = os.path.split(path)
    with LOCAL.lease(root):
        state = read_state(root) or {}
        old = claim(root, state, [name], adopt=False)[name]
        df = read_committed(spark, root, name, old)
        _, total = table_file_stats(spark, path)

        if not partition_by:
            n_files = max(1, total // target_file_bytes)
            if zorder_cols:
                from realparse_spark.operators.layout import zorder_shape

                w = zorder_shape(df, zorder_cols, n_files=int(n_files)).write
            else:
                w = df.coalesce(int(n_files)).write
        else:
            leaf = _leaf_partition_bytes(path, partition_by)
            salt_rows = [
                (
                    *[None if v == "__HIVE_DEFAULT_PARTITION__" else v for v in key],
                    max(1, -(-b // target_file_bytes)),
                )
                for key, b in leaf.items()
            ]
            schema = ", ".join(f"__pv_{c} string" for c in partition_by) + ", __n_salt int"
            salts = spark.createDataFrame(salt_rows, schema)
            # eqNullSafe: rows in a null-valued partition dir must not be
            # dropped by the salt join
            cond = [df[c].cast("string").eqNullSafe(salts[f"__pv_{c}"]) for c in partition_by]
            data_cols = df.columns
            salted = (
                df.join(F.broadcast(salts), cond)
                # uniform within a partition value: hash of the whole row
                .withColumn(
                    "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.col("__n_salt"))
                )
            )
            n_tasks = int(sum(r[-1] for r in salt_rows))
            w = (
                salted.repartition(max(1, n_tasks), *partition_by, "__salt")
                .select(*data_cols)
                .write.partitionBy(*partition_by)
            )
        w.mode("append").parquet(path)
        # a table that a load or an upsert listed is written by nothing
        # else; another table's files may be another job's rows, so its
        # compaction deletes only what it rewrote, and lists nothing
        publish(root, state, [name] if name in state["files"] else [], {name: old})
        return len(old), table_file_stats(spark, path)[0]


def q_maintenance_compact(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """Compaction under the oracle: fragment the documents table into 16
    files, compact to ~1 file, and report per-source aggregates READ FROM
    THE COMPACTED TABLE alongside the file counts.  Every output value is
    deterministic — before = the 16-way repartition, after = 1 (corpus ≪
    the 1 GiB target), and the aggregates prove compaction is
    row-preserving (a dropped/duplicated row breaks the hash match)."""
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from realparse_spark.operators.load_query import persist_result
    from realparse_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="realparse_compact_")
    try:
        p = os.path.join(root, "frag")
        docs.repartition(16).write.parquet(p)
        before, after = compact_table(spark, p, target_file_bytes=1 << 30)
        res = (
            spark.read.parquet(p)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
            )
            .withColumn("files_before", F.lit(before).cast("int"))
            .withColumn("files_after", F.lit(after).cast("int"))
            .orderBy("source")
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


MAINTENANCE_COMPACT_SQL = """
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(16 AS INTEGER) AS files_before,
  CAST(1 AS INTEGER) AS files_after
FROM documents
GROUP BY source
ORDER BY source
"""


QUERIES = {"maintenance_compact": q_maintenance_compact}
ORACLES = {"maintenance_compact": MAINTENANCE_COMPACT_SQL}
