"""Structured Streaming analytics over rotated log files (SURVEY.md §2.8,
§7.1 M4).

Windowed views, sessions, keyed upserts, joins, enrichment, term counts
and document dedup/routing, each computed by a stream into its own sink:

- the same parse operators run unchanged on the streaming DataFrame —
  one code path for batch and streaming (the point of the DataFrame API);
- the file source tracks processed files in the checkpoint, so each view
  reads every rotated file once;
- `withWatermark` bounds the state of windows, sessions and dedup and
  drops rows later than the declared delay.

`Trigger.AvailableNow` gives the cron-batch behavior: process everything
new, then stop.  None of these streams writes a warehouse table: the
batch cron cycle (`operators/load.py`) is their only writer, and
`<warehouse>/_state` its only progress record.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realparse_spark.operators.parse import parse_style5
from realparse_spark.operators.text import fingerprint_md5, ws_tokens

# the set/start/restore scope below is NOT atomic on the session conf; two
# threads starting lifecycles concurrently (the test suite's thread-pooled
# all-query sweep, guide §2.6) could interleave restores and leave the conf
# at the scoped value.  Starts are quick (the stream runs async after), so
# one lock costs nothing.
_START_LOCK = threading.Lock()


def _start_scaled(spark: SparkSession, writer):
    """Start ``writer`` with the stateful shuffle width scaled to the
    session's real parallelism, restoring the session conf afterwards.

    Every stateful streaming operator instantiates one state store per
    shuffle partition, the count is frozen into the checkpoint at the
    first micro-batch, and AQE never applies to streaming plans — so a
    default session (spark.sql.shuffle.partitions=200) runs these
    lifecycles with 200 state stores per operator, and the per-batch
    state-commit + scheduling overhead dwarfs the data (measured on a
    default local[8] session at sf0.001: stream_join_e2e 103 s, the ten
    lifecycles ~295 s of a 588 s all-query sweep; ~6x less once scoped).
    min(current, defaultParallelism) sizes state to the machine while
    honoring a session that already chose a SMALLER width; a production
    deployment sizes state stores to state volume by setting the conf
    itself, which this scope never raises.  The conf is restored
    immediately after start(): StreamExecution clones the session at
    start, so the running query keeps the scoped value.  The partition
    count changes where state lives, never the rows computed.
    """
    key = "spark.sql.shuffle.partitions"
    with _START_LOCK:
        old = spark.conf.get(key)
        try:
            scoped = min(int(old), max(spark.sparkContext.defaultParallelism, 1))
        except (TypeError, ValueError):
            scoped = max(spark.sparkContext.defaultParallelism, 1)
        spark.conf.set(key, str(scoped))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, old)


def stream_log_lines(spark: SparkSession, log_dir: str, prefix: str = "rmaccess") -> DataFrame:
    """Streaming equivalent of S1/S2/S4: the file source discovers new
    rotated files per trigger; `maxFilesPerTrigger` bounds batch size at
    scale (backpressure)."""
    return (
        spark.readStream.format("text")
        .option("pathGlobFilter", f"{prefix}*")
        .option("maxFilesPerTrigger", 16)
        .load(log_dir)
    )


def parsed_stream(lines: DataFrame) -> DataFrame:
    """Parse + event-time column; late rows beyond 1 hour are dropped by
    downstream watermarks (the streaming analog of F1's late-data drop)."""
    parsed = parse_style5(lines)
    return parsed.withColumn("event_ts", F.to_timestamp("datetime"))


def stream_windowed_views(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    prefix: str = "rmaccess",
    window: str = "1 hour",
    late: str = "30 minutes",
):
    """Watermarked tumbling-window view counts — the time-windowed version
    of the reference's global per-file metrics (§2.8 'no windows' gap).
    Append mode: a window emits once its watermark passes (late data inside
    `late` still lands; later rows are dropped — F1 semantics, but bounded
    and explicit)."""
    lines = stream_log_lines(spark, log_dir, prefix)
    agg = (
        parsed_stream(lines)
        .withWatermark("event_ts", late)
        .groupBy(F.window("event_ts", window).alias("w"), F.col("name"))
        .agg(
            F.count("*").alias("n_views"),
            F.sum("sent_time").alias("total_sent_sec"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "name", "n_views", "total_sent_sec",
        )
    )
    return _start_scaled(
        spark,
        (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
        ),
    )


def stream_session_views(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    prefix: str = "rmaccess",
    gap: str = "30 minutes",
    late: str = "30 minutes",
):
    """Native STREAMING session windows (`F.session_window` + watermark):
    per-IP sessions merge in the aggregation state as events arrive —
    including across micro-batches and restarts (checkpointed state) —
    and a session emits exactly once in append mode when the watermark
    passes its end (last event + gap).  This is the streaming counterpart
    of the batch `session_window_native` query, with the same
    strictly-under-gap merge rule; state per key is the open sessions
    only, evicted at the watermark."""
    lines = stream_log_lines(spark, log_dir, prefix)
    agg = (
        parsed_stream(lines)
        .withWatermark("event_ts", late)
        .groupBy(
            F.session_window("event_ts", gap).alias("w"),
            F.col("client_ip_address"),
        )
        .agg(
            F.count("*").alias("n_views"),
            F.sum("sent_time").alias("total_sent_sec"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "client_ip_address", "n_views", "total_sent_sec",
        )
    )
    return _start_scaled(
        spark,
        (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
        ),
    )


def stream_upsert_access(
    spark: SparkSession,
    log_dir: str,
    table_path: str,
    checkpoint_dir: str,
    prefix: str = "rmaccess",
):
    """foreachBatch + key-based upsert: the idempotent MERGE alternative to
    the strictly-greater watermark (SURVEY.md §2.8).  Re-delivered lines
    (file re-reads, at-least-once sources) converge to one row per
    (client_ip_address, event_ts) key instead of duplicating — the
    exactly-once story when the source cannot checkpoint."""
    from realparse_spark.operators.upsert import upsert_parquet

    lines = stream_log_lines(spark, log_dir, prefix)
    access = parsed_stream(lines).select(
        "client_ip_address", "event_ts", "name", "bytes_sent", "status_code"
    )

    def merge_batch(batch_df, batch_id: int) -> None:
        upsert_parquet(
            batch_df.sparkSession,
            batch_df.dropDuplicates(["client_ip_address", "event_ts"]),
            table_path,
            keys=["client_ip_address", "event_ts"],
        )

    return _start_scaled(
        spark,
        (
            access.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
        ),
    )


def stream_dedup_docs(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    delay: str = "10 minutes",
):
    """Streaming ingest dedup for a document pipeline: fingerprint each
    arriving JSON-lines doc (md5 of normalized text — the exact-dedup key)
    and drop re-deliveries ACROSS batches with
    ``dropDuplicatesWithinWatermark``: unlike ``dropDuplicates``, the
    dedup state is bounded — fingerprints older than the watermark delay
    are evicted, so state stays O(docs-per-delay-window) instead of
    O(all-docs-ever), the only version that survives an unbounded stream.
    Explicit schema (no streaming inference pass)."""
    schema = "doc_id long, text string, ingest_ts timestamp"
    docs = spark.readStream.schema(schema).json(in_dir)
    deduped = (
        docs.withColumn("fp_md5", fingerprint_md5(F.col("text")))
        .withWatermark("ingest_ts", delay)
        .dropDuplicatesWithinWatermark(["fp_md5"])
    )
    return _start_scaled(
        spark,
        (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
        ),
    )


def stream_term_counts(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "5 minutes",
    late: str = "10 minutes",
):
    """Watermarked per-window TERM counts over a live document stream —
    the aggregation stage of a trending-terms feed (the top-k rank runs
    over the emitted sink, where the window is final; ranking inside the
    stream would re-rank on every update).  Each arriving JSON-lines doc
    explodes to whitespace terms; counts group by (tumbling window,
    term) and a window's rows emit exactly once in append mode when the
    watermark passes its end.  State is O(terms per open window),
    evicted at the watermark — the only version that survives an
    unbounded stream.  Explicit schema (no streaming inference pass)."""
    schema = "doc_id long, text string, ingest_ts timestamp"
    docs = spark.readStream.schema(schema).json(in_dir)
    terms = docs.select(
        "ingest_ts",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
        ).alias("term"),
    )
    agg = (
        terms.withWatermark("ingest_ts", late)
        .groupBy(F.window("ingest_ts", window).alias("w"), "term")
        .agg(F.count("*").alias("n_mentions"))
        .select(F.col("w.start").alias("window_start"), "term", "n_mentions")
    )
    return _start_scaled(
        spark,
        (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
        ),
    )


def stream_view_purchase_join(
    spark: SparkSession,
    views_dir: str,
    buys_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    within: str = "2 hours",
):
    """Watermarked stream-stream interval join (§2.8's last gap: the
    reference correlates rows only within one table; correlating two LIVE
    streams — view→purchase attribution — needs Spark's symmetric-hash
    stream join).  Both sides carry event-time watermarks and the join
    predicate time-bounds ``buy_ts`` within ``[view_ts, view_ts+within)``:
    Spark derives eviction for BOTH join state buffers from the bound +
    watermarks, so state is O(rows inside the interval), never O(stream).
    Inner matches emit as soon as both rows have arrived (no watermark
    wait), so the sink equals the batch join of the same inputs — which is
    exactly what the DuckDB oracle recomputes."""
    v = (
        spark.readStream.schema(spark.read.parquet(views_dir).schema)
        .parquet(views_dir)
        .withWatermark("view_ts", within)
    )
    b = (
        spark.readStream.schema(spark.read.parquet(buys_dir).schema)
        .parquet(buys_dir)
        .withWatermark("buy_ts", within)
    )
    joined = v.join(
        b,
        (v.user_id == b.user_id)
        & (b.buy_ts >= v.view_ts)
        & (b.buy_ts < v.view_ts + F.expr(f"interval {within}")),
    ).select(v.user_id, "view_ts", "buy_ts", "value")
    return _start_scaled(
        spark,
        (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
        ),
    )


def stream_enrich_access(
    spark: SparkSession,
    log_dir: str,
    dim: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    prefix: str = "rmaccess",
):
    """Stream-static enrichment join: every micro-batch joins the live
    stream against a STATIC dimension (the reference's customers table,
    real_parse.pl:134-141, but joined during ingest instead of at report
    time).  The static side is planned per micro-batch — a broadcast hash
    join when the dim is small — and requires no watermark or state: this
    is the cheap join shape and the default for fact⋈dim at ingest."""
    lines = stream_log_lines(spark, log_dir, prefix)
    events = parsed_stream(lines).select(
        "client_ip_address", "event_ts", "name", "bytes_sent"
    )
    enriched = events.join(F.broadcast(dim), "client_ip_address", "left")
    return _start_scaled(
        spark,
        (
            enriched.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
        ),
    )


def stream_quality_route(
    spark: SparkSession,
    in_dir: str,
    out_keep: str,
    out_drop: str,
    checkpoint_dir: str,
):
    """Streaming quality GATE with routed sinks: score each arriving
    JSON-lines document with scan-speed rules (token floor + punctuation
    ceiling — the quality_filter_report family) and fan the micro-batch
    out to keep/ and drop/ parquet sinks via ``foreachBatch`` — the
    ingest-time filter an LLM pipeline runs so garbage never lands in
    the training store, while rejects stay inspectable instead of
    vanishing.  Stateless (no watermark, no state store): per-row
    routing is a pure function, so the union of both sinks equals the
    batch-mode score of the same input — the oracle-ability contract.

    Idempotence note: two plain appends inside one foreachBatch are
    at-least-once under crash-retry; production sinks make the batch
    idempotent (MERGE on doc_id — upsert.py — or a batch_id audit
    column deduped downstream).  The lifecycle here proves ROUTING and
    checkpointed no-reprocessing across rotations, the semantics the
    availableNow trigger pins deterministically."""
    schema = "doc_id long, source string, text string, ingest_ts timestamp"
    docs = spark.readStream.schema(schema).json(in_dir)
    n_tok = F.size(ws_tokens(F.col("text")))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    scored = docs.select(
        "doc_id",
        "source",
        "ingest_ts",
        n_tok.cast("bigint").alias("n_tok"),
        ((n_tok >= 5) & (n_punct * 5 < F.length("text"))).alias("keep"),
    )

    def route(batch, _bid):
        batch.persist()
        batch.filter(F.col("keep")).drop("keep").write.mode("append").parquet(out_keep)
        batch.filter(~F.col("keep")).drop("keep").write.mode("append").parquet(out_drop)
        batch.unpersist()

    return _start_scaled(
        spark,
        (
            scored.writeStream.foreachBatch(route)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
        ),
    )


def stream_sessionize(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    prefix: str = "rmaccess",
    gap_minutes: int = 30,
    timeout_ms: int | None = 60_000,
):
    """Custom stateful operator via applyInPandasWithState: per-IP session
    assembly with a processing-time timeout — the §2.8 'no stateful ops'
    gap filled with the public stateful API.  State = (session_start,
    last_seen, n_events); a session row is emitted when the gap elapses or
    the state times out.

    ``timeout_ms`` is the processing-time flush for idle keys — the right
    production behavior for a continuous trigger.  Pass ``None`` for
    GroupStateTimeout.NoTimeout: open tails then stay in state, which is
    what a DETERMINISTIC availableNow consumer needs — the runtime keeps
    scheduling empty micro-batches for as long as processing-time
    timeouts remain armed (observed: an availableNow run with pending
    timeouts never terminates on its own), and wall-clock flushes would
    make the sink contents timing-dependent anyway."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    lines = stream_log_lines(spark, log_dir, prefix)
    events = parsed_stream(lines).select("client_ip_address", "event_ts")

    out_schema = "client_ip_address string, session_start timestamp, session_end timestamp, n_events long"
    state_schema = "session_start timestamp, last_seen timestamp, n_events long"
    gap_sec = gap_minutes * 60

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"client_ip_address": [key[0]], "session_start": [start],
                 "session_end": [last], "n_events": [n]}
            )
            return

        ts = pd.concat([pdf["event_ts"] for pdf in pdf_iter]).sort_values()
        sessions = []
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        for t in ts:
            if last is not None and (t - last).total_seconds() > gap_sec:
                sessions.append((key[0], start, last, n))
                start, n = t, 0
            if start is None:
                start = t
            last = t
            n += 1
        state.update((start, last, n))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if sessions:
            yield pd.DataFrame(
                sessions,
                columns=["client_ip_address", "session_start", "session_end", "n_events"],
            )

    mode = (
        GroupStateTimeout.NoTimeout
        if timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    sessions = events.groupBy("client_ip_address").applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )
    return _start_scaled(
        spark,
        (
            sessions.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
        ),
    )
