"""Parquet table source (SURVEY.md §2.1 S6 — the reference's JDBC/MySQL
table reads, re-expressed as columnar Parquet scans).

The reference reads MySQL tables row-at-a-time (`pull_report.pl:37,43,84,99`);
here every table is a Parquet scan so Catalyst gets predicate pushdown,
column pruning and partition pruning for free.  At 100 TB the same call
points at a partitioned table root (date / server_type partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from realparse_spark.cache import fingerprint_key

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Each file's inferred schema under its name and content fingerprint (the
# fingerprint names the directory, not the file): a bare
# `spark.read.parquet` runs a schema-inference job on every call (7 of the
# curation mix's 40 jobs per round), and a file rewritten in place gets a
# new fingerprint and so is inferred again.
_SCHEMAS: dict[tuple, StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Scans stay lazy — filters/projections applied by the
    caller are pushed into the Parquet reader by Catalyst.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    reader only accepts as a raw long (``spark.sql.legacy.parquet
    .nanosAsLong``); convert to a microsecond TimestampType here so every
    downstream operator sees a real timestamp (matches DuckDB's ns->us
    truncation when fetched into Python).

    The schema is inferred once per file version (``_SCHEMAS``); later
    calls read with it and run no job.
    """
    # runtime-settable; the session may not have been built by get_spark
    # (e.g. the verification driver's own session).  UTC matters as much as
    # the nanos flag: epoch/window oracles are naive-UTC in DuckDB.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (name, fingerprint_key(sf_dir, name))
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    for field in df.schema.fields:
        if field.name != "ts":
            continue
        kind = field.dataType.simpleString()
        if kind == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "timestamp_ntz":
            # fixture generators have emitted both TIMESTAMP(NANOS) and
            # tz-less TIMESTAMP(MICROS); normalize to session-tz (UTC)
            # TimestampType so epoch math (`cast('double')`) behaves the
            # same regardless of which physical type the parquet carries
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count.

    The test fixtures are single-row-group parquet files (one scan task);
    compute-heavy stages downstream of such a scan would otherwise run on
    one core.  Production inputs arrive as many splits, where this is a
    no-op decision the caller simply skips."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register every table as a temp view so queries can use spark.sql."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
