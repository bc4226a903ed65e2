"""Incremental star-schema load pipeline (SURVEY.md §2.1 S6-S7, §2.3 F1-F3,
§2.4 J2, §3.1-3.2).

The reference loads each log line into 5-7 MySQL tables with per-row
INSERT + `SELECT max(id)` read-backs (real_parse.pl:96-177) guarded by a
high-watermark (`MAX(datetime)` of the already-loaded family,
real_parse.pl:47-52).  Spark shape:

    read.text (pruned file set)
      -> parse (narrow, codegen) -> persist
      -> watermark filter (strictly-greater, F1 semantics)
      -> derive surrogate keys (J2: no read-back, no serialization)
      -> persist
      -> N projected child appends (Parquet; `access` partitioned by
         server_type and access_date)

No count is a job of its own.  Each is an `Observation`, filled by an action
that runs anyway or by a single-job pass into the `noop` sink:

    keyed pass   quarantined lines, max(access_id) and max(epoch); fills
                 both caches, so the text is scanned once
    each append  the rows it wrote

A cycle is therefore one job plus one per table it writes.  (A `count()`
or an aggregate `collect()` would cost 2-3 jobs each under AQE.)  The whole
load is shuffle-free; at 100 TB the only cost is the scan and the N
columnar writes, all from one cached parse.

What has been loaded lives in one record, `<warehouse>/_state`:
`{"max_key": int, "watermark": {"<server_type>": epoch}, "files": {table:
[data files]}}` -- the highest surrogate key handed out, each family's
high-watermark (the reference's auto-increment and `SELECT MAX(datetime)`)
and each table's committed files.  A cycle holds the warehouse's writer
lease (fs.py) from its state read to its end, as the reference holds
`LOCK TABLES` (real_parse.pl:43-44,192-193).  It appends its rows and
quarantined lines straight into the tables and publishes with one atomic
replace of `_state`, so a table's rows and the progress that covers them
appear together: `read_warehouse_table` reads only listed files.  A
second loader waits and then finds nothing new; a cycle that dies
publishes nothing, and its re-run deletes the files it left and loads the
same lines.

Key semantics preserved from the reference: late rows (epoch <= watermark)
are silently dropped, ties included (real_parse.pl:93 strict `>`), and
re-running over the same rotated files inserts nothing new (idempotence via
the watermark).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import ExitStack

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from realparse_spark.operators.parse import (
    explode_stats_masks,
    parse_client_info,
    parse_style5,
    parse_weblog,
)
from realparse_spark.fs import LOCAL, claim, publish, read_committed, read_state
from realparse_spark.sources.logs import read_log_lines, read_server_config

ACCESS_TABLES = ("access", "file", "client", "network", "stats_mask1", "stats_mask2", "stats_mask3")
WEB_TABLES = ACCESS_TABLES[:3]  # web_parse.pl writes no network/stats rows

# A family's child table: (name, rows projected from the keyed lines).
Child = tuple[str, DataFrame]

# real_parse.pl:43 locks a `components` table that is never written — a
# declared-but-unimplemented placeholder for stream components (the unused
# $stream_components at open_log.pl:41).  Parity: the warehouse declares the
# typed table, written empty by its first cycle, never row-appended.
COMPONENTS_SCHEMA = "component_id long, access_id long, component string"


def _observed(df: DataFrame, **aggs: Column) -> tuple[DataFrame, Observation]:
    """`df` with the aggregates `aggs` observed by the first action that runs
    it; they ride along in that action's job instead of costing their own."""
    obs = Observation()
    return df.observe(obs, *(c.alias(k) for k, c in aggs.items())), obs


def _scan(df: DataFrame, **aggs: Column) -> dict:
    """Run `df` into the `noop` sink, one shuffle-free job, and return the
    aggregates `aggs` observed on the way."""
    df, obs = _observed(df, **aggs)
    df.write.format("noop").mode("overwrite").save()
    return obs.get


def read_warehouse_table(spark: SparkSession, warehouse: str, name: str) -> DataFrame | None:
    """The table `name` as the last commit published it -- exactly its
    listed files, with the partition columns of `access` kept -- or None
    while it lists no file (no load has written it, or none since the
    lists were kept: the next cycle lists what such a warehouse holds).
    Each call reads `_state` afresh, so two tables read by two calls may
    come from two commits.  Any other read error propagates."""
    return read_committed(spark, warehouse, name)


def _read_state(warehouse: str) -> dict:
    """The warehouse's load progress (see the module docstring); a
    warehouse that no cycle has published to starts at key 0 with no
    watermark.  One that has `access` rows but no progress in `_state` (or
    no `_state`) is refused: starting it over would reuse ids and reload
    already-loaded lines."""
    state = read_state(warehouse) or {}
    if "max_key" not in state and LOCAL.exists(os.path.join(warehouse, "access")):
        raise ValueError(f"{warehouse}/_state holds no load progress but the warehouse "
                         "holds access rows; its load progress is unknown")
    return {"max_key": -1, "watermark": {}} | state


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
    children: Callable[[DataFrame], list[Child]],
) -> dict[str, int]:
    """One cron cycle for one log family; real_parse.pl and web_parse.pl
    share this loop shape.  The family supplies its parser, the literals of
    its access rows, the names of all its `tables` (access first) and
    `children`, which projects the keyed lines onto the other tables.
    Returns per-table insert counts plus the quarantined-line count."""
    with ExitStack() as held:
        held.enter_context(LOCAL.lease(warehouse))
        state = _read_state(warehouse)
        written = (*tables, "quarantine", "components")
        files = claim(warehouse, state, written)
        family = str(server_type)
        wm = state["watermark"].get(family)

        def persist(df: DataFrame) -> DataFrame:
            df = df.persist()
            held.callback(df.unpersist)
            return df

        if not files["components"]:
            _append(spark.createDataFrame([], COMPONENTS_SCHEMA), warehouse, "components")
        # Persist the parsed corpus: the quarantine split and the keyed lines
        # branch off this one DF; without the cache each branch would
        # re-scan and re-regex the raw text.
        parsed = persist(parse(read_log_lines(spark, log_dir, prefix, latest), line_col="value"))

        # Quarantine: a line whose timestamp failed to parse (epoch NULL)
        # cannot pass any watermark and would silently vanish; at 100 TB
        # malformed lines are a certainty, so they are preserved for triage
        # instead of dropped (ANSI-off yields NULLs, not job aborts).
        lines, seen = _observed(parsed, bad=F.count_if(F.col("epoch").isNull()))
        good = lines.filter(F.col("epoch").isNotNull())
        if wm is not None:
            good = good.filter(F.col("epoch") > F.lit(wm))  # F1 strict '>'
        # J2: one surrogate per line, derived without any read-back; the
        # base offset keeps runs disjoint (sparse like auto-increment with
        # gaps).  `keyed` is persisted so that the appends' plans hold no
        # per-cycle literal (`wm`, `base`): their generated code is then
        # the same every cycle and compiles once per process.
        base = state["max_key"] + 1
        keyed = persist(good.withColumn("access_id", F.lit(base) + F.monotonically_increasing_id()))

        # The keyed pass fills both caches and all three observations.
        top = _scan(keyed, max_key=F.max("access_id"), wm=F.max("epoch"))
        n_bad = seen.get["bad"]
        counts = dict.fromkeys(tables, 0) | {"quarantine": n_bad}
        if n_bad:
            _append(parsed.filter(F.col("epoch").isNull()).select("value", "source_file"),
                    warehouse, "quarantine")
        if top["max_key"] is not None:
            access = keyed.select(
                "access_id", "client_ip_address", "identuser", "authuser",
                F.to_timestamp("datetime").alias("datetime"), "gmt_offset",
                F.lit(logging_style).cast("int").alias("logging_style"),
                F.lit(stats_mask).cast("int").alias("stats_mask"),
                F.lit(server_type).cast("int").alias("server_type"),
                F.to_date(F.to_timestamp("datetime")).alias("access_date"),
            )
            for name, rows in [("access", access), *children(keyed)]:
                counts[name] = _append(rows, warehouse, name)
            state |= {"max_key": top["max_key"], "watermark": state["watermark"] | {family: top["wm"]}}
        # the commit lists every file now in a table this cycle wrote
        publish(warehouse, state, written)
        return counts


def _style5_children(keyed: DataFrame) -> list[Child]:
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
    stats = explode_stats_masks(keyed, key_cols=("access_id",))
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
        ("file", file_df), ("client", client), ("network", network),
        ("stats_mask1", s1), ("stats_mask2", s2), ("stats_mask3", s3),
    ]


def _web_children(keyed: DataFrame) -> list[Child]:
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
    return [("file", file_df), ("client", client)]


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


def _append(df: DataFrame, root: str, name: str) -> int:
    """S7 — batched columnar append of table `name` under `root` (the
    warehouse); replaces per-row INSERT round-trips.
    Returns the rows written, observed in the append's own job.
    `access` is partitioned by (server_type, access_date): the F2 family
    discriminator and time-range reports prune to a handful of partitions
    instead of scanning the table."""
    df, obs = _observed(df, n=F.count(F.lit(1)))
    writer = df.write.mode("append")
    if name == "access":
        writer = writer.partitionBy("server_type", "access_date")
    writer.parquet(os.path.join(root, name))
    return obs.get["n"]
