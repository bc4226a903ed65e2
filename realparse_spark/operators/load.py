"""Incremental star-schema load pipeline (SURVEY.md §2.1 S6-S7, §2.3 F1-F3,
§2.4 J2, §3.1-3.2).

The reference loads each log line into 5-7 MySQL tables with per-row
INSERT + `SELECT max(id)` read-backs (real_parse.pl:96-177) guarded by a
high-watermark (`MAX(datetime)` of the already-loaded family,
real_parse.pl:47-52).  Spark shape:

    read.text (pruned file set)
      -> parse (narrow, codegen)
      -> watermark filter (strictly-greater, F1 semantics)
      -> derive surrogate keys once (J2: no read-back, no serialization)
      -> persist
      -> N projected child writes (Parquet, partitioned by server_type)

The whole load is shuffle-free; at 100 TB the only cost is the scan and the
N columnar writes, all from one cached parse.

Key semantics preserved from the reference: late rows (epoch <= watermark)
are silently dropped, ties included (real_parse.pl:93 strict `>`), and
re-running over the same rotated files inserts nothing new (idempotence via
the watermark, replacing `LOCK TABLES`).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realparse_spark.operators.parse import (
    explode_stats_masks,
    parse_client_info,
    parse_style5,
    parse_weblog,
)
from realparse_spark.fs import LOCAL
from realparse_spark.sources.logs import read_log_lines, read_server_config

ACCESS_TABLES = ("access", "file", "client", "network", "stats_mask1", "stats_mask2", "stats_mask3")
WEB_TABLES = ACCESS_TABLES[:3]  # web_parse.pl writes no network/stats rows

# A family's child table: (name, rows, one_per_line).  A one_per_line table
# holds exactly one row per keyed line, so its insert count is the keyed
# count and costs no Spark job.
Child = tuple[str, DataFrame, bool]
Persist = Callable[[DataFrame], DataFrame]

# real_parse.pl:43 locks a `components` table that is never written — a
# declared-but-unimplemented placeholder for stream components (the unused
# $stream_components at open_log.pl:41).  Parity: the warehouse declares the
# typed table, written empty once, never row-appended.
COMPONENTS_SCHEMA = "component_id long, access_id long, component string"


def _ensure_components(spark: SparkSession, warehouse: str) -> None:
    p = os.path.join(warehouse, "components")
    if not LOCAL.exists(p):
        spark.createDataFrame([], COMPONENTS_SCHEMA).write.mode("overwrite").parquet(p)


def _table_path(warehouse: str, name: str) -> str:
    return os.path.join(warehouse, name)


def read_warehouse_table(spark: SparkSession, warehouse: str, name: str) -> DataFrame | None:
    path = _table_path(warehouse, name)
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def _family_watermark(spark: SparkSession, warehouse: str, server_type: int) -> int | None:
    """F1/F2 — max loaded epoch for one source family (real_parse.pl:47 vs
    web_parse.pl:42; the logging_style NULLness discriminator maps 1:1 to
    the server_type partition value, 1=real / 0=web).

    Scale shape: the access layout is partitioned by (server_type,
    access_date), and the max datetime can only live in the
    lexicographically-latest date partition of the family — so the read is
    ONE partition directory, not a full-family scan (at 100 TB a cron-run
    watermark fetch must not scan years of history).  Crash-safe by
    construction: derived from the data itself, no sidecar to desync."""
    stdir = os.path.join(_table_path(warehouse, "access"), f"server_type={server_type}")
    if not LOCAL.is_dir(stdir):
        return None
    dates = sorted(
        e.split("=", 1)[1] for e in LOCAL.list_dir(stdir) if e.startswith("access_date=")
    )
    if not dates:
        return None
    latest = spark.read.parquet(os.path.join(stdir, f"access_date={dates[-1]}"))
    row = latest.agg(F.max(F.unix_timestamp("datetime")).alias("wm")).collect()[0]
    return row.wm


def _max_key_path(warehouse: str) -> str:
    # underscore prefix: invisible to Spark's parquet listing (like _SUCCESS)
    return os.path.join(_table_path(warehouse, "access"), "_max_key")


def _next_key_base(warehouse: str) -> int:
    """A2/J2 — the auto-increment base for this run's surrogate keys.

    Scale shape: the base comes from a one-line `_max_key` sidecar (a small
    GET; maps to a table property at 100 TB — see fs.py), NOT from a
    `max(access_id)` aggregate, which would be a full-table column scan per
    cron run — the exact anti-pattern the watermark fetch already avoids
    (`_family_watermark` reads one date directory).  The sidecar is written
    as a RESERVATION before any access append (`_reserve_key_range`), so a
    crash mid-load leaves an unused id gap, never a collision — the same
    observable semantics as MySQL auto-increment burning ids on rollback.
    No sidecar therefore means no access row has been written yet."""
    p = _max_key_path(warehouse)
    if LOCAL.exists(p):
        return int(LOCAL.read_text(p).strip()) + 1
    return 0


def _reserve_key_range(keyed: DataFrame, warehouse: str) -> None:
    """Commit this run's max surrogate key BEFORE the table appends.

    The max is an aggregate over the run's cached rows only (never a table
    scan); the write is tmp + rename so a reader sees either the old or the
    new value (rename maps to the table-format metadata commit at scale)."""
    hi = keyed.agg(F.max("access_id").alias("m")).collect()[0].m
    if hi is None:
        return
    LOCAL.makedirs(_table_path(warehouse, "access"))
    p = _max_key_path(warehouse)
    LOCAL.write_text(p + ".tmp", str(int(hi)))
    LOCAL.rename(p + ".tmp", p)


def _load_cycle(
    spark: SparkSession,
    log_dir: str,
    warehouse: str,
    latest: int | None,
    prefix: str,
    *,
    parse: Callable[..., DataFrame],
    server_type: int,
    logging_style: int | None,
    stats_mask: int | None,
    tables: tuple[str, ...],
    children: Callable[[DataFrame, Persist], list[Child]],
) -> dict[str, int]:
    """One cron cycle for one log family; real_parse.pl and web_parse.pl
    share this loop shape.  The family supplies its parser, the literals of
    its access rows, the names of all its `tables` (access first) and
    `children`, which projects the keyed lines onto the other tables and may
    `persist` an intermediate for the cycle to release.  Returns per-table
    insert counts plus the quarantined-line count."""
    with ExitStack() as held:

        def persist(df: DataFrame) -> DataFrame:
            df = df.persist()
            held.callback(df.unpersist)
            return df

        # Persist the parsed corpus BEFORE the quarantine split: the quarantine
        # count, the quarantine write, and the keyed main pipeline all branch
        # off this one DF — without the cache each branch would re-scan and
        # re-regex the raw text (~3 full parse passes at 100 TB).
        parsed = persist(parse(read_log_lines(spark, log_dir, prefix, latest), line_col="value"))

        # Quarantine: a line whose timestamp failed to parse (epoch NULL)
        # cannot pass any watermark and would silently vanish; at 100 TB
        # malformed lines are a certainty, so they are preserved for triage
        # instead of dropped (ANSI-off yields NULLs, not job aborts).
        bad = parsed.filter(F.col("epoch").isNull()).select("value", "source_file")
        n_bad = bad.count()  # materializes the parse cache: the only full parse
        if n_bad:
            _append(bad, warehouse, "quarantine")
        good = parsed.filter(F.col("epoch").isNotNull())

        wm = _family_watermark(spark, warehouse, server_type)
        if wm is not None:
            good = good.filter(F.col("epoch") > F.lit(wm))  # F1 strict '>'

        base = _next_key_base(warehouse)
        # J2: one deterministic-enough surrogate per line, derived without any
        # read-back; monotonically_increasing_id is unique per run, the base
        # offset keeps runs disjoint (sparse like auto-increment with gaps).
        keyed = persist(good.withColumn(
            "access_id", F.lit(base) + F.monotonically_increasing_id()
        ))
        n = keyed.count()
        counts = dict.fromkeys(tables, 0) | {"quarantine": n_bad}
        if n == 0:
            return counts
        _reserve_key_range(keyed, warehouse)

        access = keyed.select(
            "access_id", "client_ip_address", "identuser", "authuser",
            F.to_timestamp("datetime").alias("datetime"), "gmt_offset",
            F.lit(logging_style).cast("int").alias("logging_style"),
            F.lit(stats_mask).cast("int").alias("stats_mask"),
            F.lit(server_type).cast("int").alias("server_type"),
            F.to_date(F.to_timestamp("datetime")).alias("access_date"),
        )
        _append(access, warehouse, "access")
        counts["access"] = n
        for name, rows, one_per_line in children(keyed, persist):
            _append(rows, warehouse, name)
            counts[name] = n if one_per_line else rows.count()
        return counts


def _style5_children(keyed: DataFrame, persist: Persist) -> list[Child]:
    file_df = keyed.select(
        F.col("access_id").alias("file_id"),  # 1:1 with access -> same key
        "method", "path", "name", "protocol_version", "status_code",
        "bytes_sent", "file_size", "file_time", "sent_time",
        F.lit(None).cast("timestamp").alias("start_time"),  # real_parse.pl:145
        "presentation_id", "access_id",
    )
    client = parse_client_info(
        keyed.select("access_id", "client_info", "client_GUID")
    ).select(
        F.col("access_id").alias("client_id"),
        "client_info", "platform", "os_version", "client_version", "type",
        "distribution", "language", "cpu", "embedded", "client_GUID",
        "access_id",
    )
    network = keyed.select(
        F.col("access_id").alias("network_id"),
        "resends", "failed_resends",
        F.lit(None).cast("string").alias("server_address"),  # real_parse.pl:173-175
        F.lit(None).cast("long").alias("packets_sent"),
        F.lit(None).cast("double").alias("average_bitrate"),
        "access_id",
        F.col("access_id").alias("file_id"),
    )
    # parse_style5 already materialized _brackets on keyed — no second
    # regex pass over the line corpus
    stats = persist(explode_stats_masks(keyed, key_cols=("access_id",)))
    s1 = stats.filter(F.col("stat_type") == 1).select(
        F.col("access_id").alias("id"),
        "packets_received", "out_of_order", "missing", "early", "late",
        "audio_format", "access_id", F.col("access_id").alias("file_id"),
    )
    s2 = stats.filter(F.col("stat_type") == 2).select(
        F.col("access_id").alias("id"),
        "bandwidth", "available", "highest", "lowest", "average",
        "requested", "received", F.col("s2_late").alias("late"),
        "rebuffering", "transport", "startup", "audio_format",
        "access_id", F.col("access_id").alias("file_id"),
    )
    s3 = stats.filter(F.col("stat_type") == 3).select(
        F.col("access_id").alias("id"),
        F.col("raw_stat"),
        "access_id", F.col("access_id").alias("file_id"),
    )
    return [
        ("file", file_df, True), ("client", client, True), ("network", network, True),
        ("stats_mask1", s1, False), ("stats_mask2", s2, False), ("stats_mask3", s3, False),
    ]


def _web_children(keyed: DataFrame, _persist: Persist) -> list[Child]:
    file_df = keyed.select(
        F.col("access_id").alias("file_id"),
        "method", "path", "name", "protocol_version", "status_code",
        "bytes_sent",
        F.lit(None).cast("long").alias("file_size"),  # web rows: NULLs
        F.lit(None).cast("int").alias("file_time"),
        F.lit(None).cast("int").alias("sent_time"),
        F.lit(None).cast("timestamp").alias("start_time"),
        F.lit(None).cast("int").alias("presentation_id"),
        "access_id",
    )
    client = keyed.select(
        F.col("access_id").alias("client_id"),
        F.col("user_agent").alias("client_info"),  # web_parse.pl:129
        *[F.lit(None).cast("string").alias(c) for c in (
            "platform", "os_version", "client_version", "type",
            "distribution", "language", "cpu", "embedded", "client_GUID",
        )],
        "access_id",
    )
    return [("file", file_df, True), ("client", client, True)]


def load_style5(
    spark: SparkSession,
    log_dir: str,
    warehouse: str,
    config_path: str | None = None,
    latest: int | None = 2,
    prefix: str = "rmaccess",
) -> dict[str, int]:
    """Main ETL (real_parse.pl end-to-end).  Returns per-table insert counts."""
    logging_style, stats_mask = 5, 7
    if config_path is not None:
        logging_style, stats_mask = read_server_config(config_path)
        if logging_style != 5:  # F3 gate (real_parse.pl:58,186-188)
            return {}
    _ensure_components(spark, warehouse)
    return _load_cycle(
        spark, log_dir, warehouse, latest, prefix,
        parse=parse_style5,
        server_type=1,  # real_parse.pl:16
        logging_style=logging_style, stats_mask=stats_mask,
        tables=ACCESS_TABLES, children=_style5_children,
    )


def load_weblog(
    spark: SparkSession,
    log_dir: str,
    warehouse: str,
    latest: int | None = 2,
    prefix: str = "log.",
) -> dict[str, int]:
    """Secondary ETL (web_parse.pl end-to-end): combined-format lines
    filtered to .wma/.wmv, NULL logging_style/stats_mask, server_type=0,
    access+file+client only (no network/stats rows)."""
    return _load_cycle(
        spark, log_dir, warehouse, latest, prefix,
        parse=parse_weblog,
        server_type=0,  # web_parse.pl:15
        logging_style=None, stats_mask=None,  # web_parse.pl:87
        tables=WEB_TABLES, children=_web_children,
    )


def _append(df: DataFrame, warehouse: str, name: str) -> None:
    """S7 — batched columnar append; replaces per-row INSERT round-trips.
    `access` is partitioned by (server_type, access_date): the F2 family
    discriminator, time-range reports, AND the per-run watermark read all
    prune to a handful of partitions instead of scanning the table."""
    writer = df.write.mode("append")
    if name == "access":
        writer = writer.partitionBy("server_type", "access_date")
    writer.parquet(_table_path(warehouse, name))
