"""Driver-visible Structured Streaming lifecycle queries (SURVEY.md §2.8).

Each `q_stream_*_e2e` puts one streaming analytic of
`streaming/pipeline.py` under the DuckDB oracle in one CORRECTNESS row:

1. synthesize rotated style-5 log files (or JSON document batches) from
   the sf tables (deterministic, same arithmetic as the parse oracles);
2. run an availableNow stream over the first rotation;
3. (most lifecycles) drop the next rotation into the same directory and
   run again with the SAME checkpoint, so the file source reads only the
   new file;
4. read the sink back and aggregate it.

None of them loads a warehouse: the cron cycle (`operators/load.py`) is
the only writer of warehouse tables.

Each final aggregate is parked in a session-lifetime temp parquet
(`load_query.persist_result`) so the synthesized corpus and sink can be
deleted immediately (no /tmp leak per run — the bench harness invokes each
query repeatedly) WITHOUT funneling the result through driver memory.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realparse_spark.operators.load_query import _write_rotation, persist_result
from realparse_spark.operators.parse_queries import synth_style5
from realparse_spark.operators.text import fingerprint_md5
from realparse_spark.sources.tables import load_table


def q_stream_window_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation under the oracle
    (§2.8's windowed path, previously pytest-only).  Two availableNow runs
    over rotated files share a checkpoint; append mode emits a window
    exactly once, when the watermark passes its end.

    Determinism contract (empirically pinned + relied on by the oracle):
    after the final run, Spark's no-data batch advances the watermark to
    max(event_ts) - 30min and flushes every window with end <= watermark;
    later windows stay in state and never reach the sink.  Because run 2's
    lines are strictly newer than run 1's max, no emitted window ever
    receives a late row — so the sink is exactly the batch window
    aggregate restricted to closed windows, which is what the oracle
    computes (`wm` CTE)."""
    from realparse_spark.streaming.pipeline import stream_windowed_views

    events = load_table(spark, sf_dir, "events")
    split = events.agg(F.avg(F.unix_timestamp("ts"))).collect()[0][0]
    older = synth_style5(events.filter(F.unix_timestamp("ts") <= split))
    newer = synth_style5(events.filter(F.unix_timestamp("ts") > split))

    root = tempfile.mkdtemp(prefix="realparse_stream_win_")
    try:
        logs = os.path.join(root, "logs")
        os.makedirs(logs)
        out = os.path.join(root, "out")
        ck = os.path.join(root, "ck")

        _write_rotation(older, root, logs, "rmaccess.log.20021011")
        stream_windowed_views(spark, logs, out, ck).awaitTermination()
        _write_rotation(newer, root, logs, "rmaccess.log.20021012")
        stream_windowed_views(spark, logs, out, ck).awaitTermination()

        sink = spark.read.parquet(out)
        res = sink.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "name",
            "n_views",
            "total_sent_sec",
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


from realparse_spark.operators.parse_queries import _STYLE5_LINES_SQL  # noqa: E402

STREAM_WINDOW_E2E_SQL = (
    "WITH "
    + _STYLE5_LINES_SQL.strip()
    + r""",
parsed AS (
  SELECT value,
    regexp_extract_all(value, '\s(\d+)', 1) AS toks_raw,
    regexp_extract(value, '"(\S+) (.*?) (\S+)"', 2) AS fn,
    strptime(regexp_extract(regexp_extract_all(value, '\[([^\]]*)\]', 1)[1],
                            '^(.+) -(\d+)$', 1), '%d/%b/%Y:%H:%M:%S') AS ts2
  FROM lines
),
toks AS (
  SELECT *,
    CASE WHEN regexp_matches(toks_raw[1], '[69_]\w') THEN toks_raw[2:] ELSE toks_raw END AS t,
    string_split(fn, '/')[-1] AS raw_name
  FROM parsed
),
flat AS (
  SELECT ts2,
    CAST(t[-4] AS INTEGER) AS sent_time,
    CASE WHEN regexp_extract(raw_name, '^(.+\.\w*)', 1) = '' THEN raw_name
         ELSE regexp_extract(raw_name, '^(.+\.\w*)', 1) END AS name
  FROM toks
  WHERE ts2 IS NOT NULL
),
wm AS (SELECT max(epoch(ts2)) - 1800 AS w FROM flat),
win AS (
  SELECT to_timestamp(CAST(floor(epoch(ts2) / 3600) * 3600 AS BIGINT)) AS ws, name, sent_time
  FROM flat
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, name,
  count(*) AS n_views,
  CAST(sum(sent_time) AS BIGINT) AS total_sent_sec
FROM win, wm
WHERE epoch(ws) + 3600 <= wm.w
GROUP BY 1, 2
"""
)


STREAM_SESSION_E2E_SQL = (
    "WITH "
    + _STYLE5_LINES_SQL.strip()
    + r""",
parsed AS (
  SELECT value,
    regexp_extract(value, '^(\S+)', 1) AS client_ip_address,
    regexp_extract_all(value, '\s(\d+)', 1) AS toks_raw,
    strptime(regexp_extract(regexp_extract_all(value, '\[([^\]]*)\]', 1)[1],
                            '^(.+) -(\d+)$', 1), '%d/%b/%Y:%H:%M:%S') AS ts2
  FROM lines
),
toks AS (
  SELECT *,
    CASE WHEN regexp_matches(toks_raw[1], '[69_]\w') THEN toks_raw[2:] ELSE toks_raw END AS t
  FROM parsed
),
flat AS (
  SELECT client_ip_address, ts2, CAST(t[-4] AS INTEGER) AS sent_time
  FROM toks WHERE ts2 IS NOT NULL
),
marks AS (
  SELECT *, CASE WHEN epoch(ts2) - epoch(lag(ts2) OVER (
      PARTITION BY client_ip_address ORDER BY ts2)) >= 1800.0
    THEN 1 ELSE 0 END AS brk
  FROM flat
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY client_ip_address ORDER BY ts2
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
),
agg AS (
  SELECT client_ip_address, sid, min(ts2) AS s0, max(ts2) AS s1,
         count(*) AS n_views, sum(sent_time) AS tot
  FROM s GROUP BY 1, 2
),
wm AS (SELECT max(epoch(ts2)) - 1800 AS w FROM flat)
SELECT strftime(s0, '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(s1 + INTERVAL 1800 SECOND, '%Y-%m-%d %H:%M:%S') AS session_end,
  client_ip_address,
  n_views,
  CAST(tot AS BIGINT) AS total_sent_sec
FROM agg, wm
WHERE epoch(s1) + 1800 <= wm.w
"""
)


def q_stream_upsert_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE under the oracle — the at-least-once story
    (§2.8): run 2's rotation REDELIVERS every run-1 line (it contains the
    full corpus), and the keyed upsert converges the table to exactly one
    row per (client_ip_address, event_ts) anyway.  This is the
    exactly-once path for sources that cannot checkpoint: the other
    lifecycles rely on the file-source checkpoint to prevent the re-read
    instead.

    The oracle aggregates the distinct synthesized lines directly — any
    duplicate surviving the merge, or any line lost to it, breaks the
    row-count/value-hash compare."""
    from realparse_spark.fs import read_committed
    from realparse_spark.streaming.pipeline import stream_upsert_access

    events = load_table(spark, sf_dir, "events")
    split = events.agg(F.avg(F.unix_timestamp("ts"))).collect()[0][0]
    if split is None:  # empty events table: nothing to merge, typed empty report
        return spark.createDataFrame(
            [], "name string, n_rows bigint, sum_bytes bigint, n_ips bigint, max_dt string"
        )
    older = synth_style5(events.filter(F.unix_timestamp("ts") <= split))
    full = synth_style5(events)  # includes every older line again

    # Contract guard: the oracle counts every synthesized line, while the
    # merge collapses rows by (client_ip_address, event_ts) — sound only if
    # that key is unique in the corpus.  Timestamps are second-granular, so
    # an untested scale factor could plausibly collide two events; fail
    # fast with a clear message instead of a baffling hash mismatch (and a
    # nondeterministic dropDuplicates survivor) downstream.
    n, nk = full.select(
        F.regexp_extract("value", r"^(\S+)", 1).alias("ip"),
        F.regexp_extract("value", r"\[(.*?) -\d+\]", 1).alias("ts"),
    ).agg(F.count(F.lit(1)), F.count_distinct("ip", "ts")).first()
    if n != nk:
        raise AssertionError(
            f"stream_upsert_e2e corpus violates the merge-key contract: "
            f"{n} lines but only {nk} distinct (ip, second) keys at {sf_dir}; "
            "the oracle and the merge would disagree — regenerate or re-key"
        )

    root = tempfile.mkdtemp(prefix="realparse_stream_upsert_")
    try:
        logs = os.path.join(root, "logs")
        os.makedirs(logs)
        tbl = os.path.join(root, "tbl")
        ck = os.path.join(root, "ck")

        _write_rotation(older, root, logs, "rmaccess.log.20021011")
        stream_upsert_access(spark, logs, tbl, ck).awaitTermination()
        _write_rotation(full, root, logs, "rmaccess.log.20021012")
        stream_upsert_access(spark, logs, tbl, ck).awaitTermination()

        access = read_committed(spark, root, "tbl")  # the last merge's commit
        out = access.groupBy("name").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bytes_sent").alias("sum_bytes"),
            F.count_distinct("client_ip_address").alias("n_ips"),
            F.max(F.date_format("event_ts", "yyyy-MM-dd HH:mm:ss")).alias("max_dt"),
        )
        return persist_result(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_UPSERT_E2E_SQL = (
    "WITH "
    + _STYLE5_LINES_SQL.strip()
    + r""",
parsed AS (
  SELECT value,
    regexp_extract(value, '^(\S+)', 1) AS client_ip_address,
    regexp_extract_all(value, '\s(\d+)', 1) AS toks_raw,
    regexp_extract(value, '"(\S+) (.*?) (\S+)"', 2) AS fn,
    strptime(regexp_extract(regexp_extract_all(value, '\[([^\]]*)\]', 1)[1],
                            '^(.+) -(\d+)$', 1), '%d/%b/%Y:%H:%M:%S') AS ts2
  FROM lines
),
toks AS (
  SELECT *,
    CASE WHEN regexp_matches(toks_raw[1], '[69_]\w') THEN toks_raw[2:] ELSE toks_raw END AS t,
    string_split(fn, '/')[-1] AS raw_name
  FROM parsed
),
flat AS (
  SELECT client_ip_address, ts2,
    CAST(t[2] AS BIGINT) AS bytes_sent,
    CASE WHEN regexp_extract(raw_name, '^(.+\.\w*)', 1) = '' THEN raw_name
         ELSE regexp_extract(raw_name, '^(.+\.\w*)', 1) END AS name
  FROM toks
  WHERE ts2 IS NOT NULL
)
SELECT name,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(bytes_sent) AS BIGINT) AS sum_bytes,
  count(DISTINCT client_ip_address) AS n_ips,
  strftime(max(ts2), '%Y-%m-%d %H:%M:%S') AS max_dt
FROM flat
GROUP BY name
"""
)


def q_stream_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the oracle (§2.8): split the
    events table into a view stream and a purchase stream, run the
    watermarked symmetric-hash join (`pipeline.stream_view_purchase_join`)
    with availableNow, and aggregate the attribution pairs per user.

    Determinism contract: inner stream-stream matches emit eagerly (no
    watermark wait), so after one availableNow run the sink holds exactly
    the batch join of the two inputs — the oracle recomputes that join in
    SQL over the same events parquet.  Lags sum as integer MICROSECONDS
    (`unix_micros`/`epoch_us`) because the fixture timestamps are
    µs-granular and float-seconds sums would be order-sensitive."""
    from realparse_spark.streaming.pipeline import stream_view_purchase_join

    events = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="realparse_stream_join_")
    try:
        views_dir = os.path.join(root, "views")
        buys_dir = os.path.join(root, "buys")
        out = os.path.join(root, "out")
        ck = os.path.join(root, "ck")

        events.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("view_ts")
        ).write.parquet(views_dir)
        events.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("buy_ts"), "value"
        ).write.parquet(buys_dir)

        stream_view_purchase_join(spark, views_dir, buys_dir, out, ck).awaitTermination()

        sink = spark.read.parquet(out)
        res = (
            sink.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(F.unix_micros("buy_ts") - F.unix_micros("view_ts"))
                .cast("bigint")
                .alias("sum_lag_us"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_value"),
            )
            .orderBy("user_id")
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_JOIN_E2E_SQL = """
WITH v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
b AS (SELECT user_id, ts AS buy_ts, value FROM events WHERE event_type = 'purchase')
SELECT v.user_id,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(epoch_us(buy_ts) - epoch_us(view_ts)) AS BIGINT) AS sum_lag_us,
  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM v JOIN b ON v.user_id = b.user_id
  AND buy_ts >= view_ts AND buy_ts < view_ts + INTERVAL 2 HOUR
GROUP BY v.user_id
ORDER BY v.user_id
"""


def q_stream_session_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows under the oracle: two rotations through
    `stream_session_views` (checkpointed, so sessions straddling the
    rotation split merge correctly in state), then the sink is compared
    against a batch lag-cumsum sessionization restricted to CLOSED
    sessions.

    Determinism contract (the stream_window_e2e discipline): after the
    final run the no-data batch advances the watermark to max(event_ts) -
    30min and flushes every session whose end (last event + 30min gap) is
    <= that watermark; run 2's lines are strictly newer than run 1's max,
    so no emitted session ever sees a late event.  The oracle's closed-
    session predicate is last_ts + 1800 <= max_ts - 1800, with the same
    strictly-under-gap merge rule as `session_window_native` (break on
    gap >= 1800)."""
    from realparse_spark.streaming.pipeline import stream_session_views

    events = load_table(spark, sf_dir, "events")
    split = events.agg(F.avg(F.unix_timestamp("ts"))).collect()[0][0]
    older = synth_style5(events.filter(F.unix_timestamp("ts") <= split))
    newer = synth_style5(events.filter(F.unix_timestamp("ts") > split))

    root = tempfile.mkdtemp(prefix="realparse_stream_sess_")
    try:
        logs = os.path.join(root, "logs")
        os.makedirs(logs)
        out = os.path.join(root, "out")
        ck = os.path.join(root, "ck")

        _write_rotation(older, root, logs, "rmaccess.log.20021011")
        stream_session_views(spark, logs, out, ck).awaitTermination()
        _write_rotation(newer, root, logs, "rmaccess.log.20021012")
        stream_session_views(spark, logs, out, ck).awaitTermination()

        sink = spark.read.parquet(out)
        res = sink.select(
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "client_ip_address",
            "n_views",
            "total_sent_sec",
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming ingest dedup under the oracle (§2.8's ST4,
    previously pytest-only): two JSON-lines rotations run through
    ``stream_dedup_docs`` (fingerprint + ``dropDuplicatesWithinWatermark``)
    with a shared checkpoint; rotation 2 REDELIVERS every batch-1 line and
    adds the duplicate variants, and the bounded fingerprint state drops
    them all across batches.

    Determinism contract (what makes an approximate-state operator
    oracle-able): all ingest timestamps span < 5 min while the watermark
    delay is 10 min, so NO fingerprint state is ever evicted during the
    run — the sink is exactly one row per distinct fingerprint.  And the
    corpus is arranged so every fingerprint's FIRST delivery is its
    canonical (min doc_id) copy — batch 1 carries only canonicals of the
    even groups, batch 2 redelivers them (state-dropped), adds their other
    copies (state-dropped), and delivers odd groups as canonical-only — so
    WHICH row survives is never left to within-batch arrival order.  The
    oracle recomputes min-doc_id-per-fingerprint in SQL."""
    from pyspark.sql.window import Window

    from realparse_spark.streaming.pipeline import stream_dedup_docs

    docs = load_table(spark, sf_dir, "documents")
    if docs.limit(1).count() == 0:  # empty corpus: typed empty report
        return spark.createDataFrame([], "doc_id long, fp_md5 string, ingest string")

    rows = docs.select("doc_id", "text", fingerprint_md5(F.col("text")).alias("fp")).withColumn(
        "_md", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    canon = rows.filter(F.col("doc_id") == F.col("_md"))
    r1 = canon.filter(F.col("_md") % 2 == 0)
    # the fixture corpus is exact-duplicate-free at small SFs, so rotation 2
    # also SYNTHESIZES same-text copies under fresh doc_ids: content-level
    # dedup (same fp, different row) must trigger, not just line redelivery
    copies = canon.filter(F.col("_md") % 2 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    r2 = (
        rows.filter(F.col("_md") % 2 == 0)
        .unionByName(copies.select(rows.columns))
        .unionByName(canon.filter(F.col("_md") % 2 == 1))
    )

    def jsonify(df: DataFrame) -> DataFrame:
        ingest = F.from_unixtime(
            F.unix_timestamp(F.lit("2003-01-01 00:00:00").cast("timestamp"))
            + F.col("doc_id") % 300
        )
        return df.select(
            F.to_json(
                F.struct(
                    F.col("doc_id"),
                    F.col("text"),
                    F.date_format(ingest, "yyyy-MM-dd HH:mm:ss").alias("ingest_ts"),
                )
            ).alias("value")
        )

    root = tempfile.mkdtemp(prefix="realparse_stream_dedup_")
    try:
        inbox = os.path.join(root, "inbox")
        os.makedirs(inbox)
        out = os.path.join(root, "out")
        ck = os.path.join(root, "ck")

        _write_rotation(jsonify(r1), root, inbox, "docs.0001.json")
        stream_dedup_docs(spark, inbox, out, ck).awaitTermination()
        _write_rotation(jsonify(r2), root, inbox, "docs.0002.json")
        stream_dedup_docs(spark, inbox, out, ck).awaitTermination()

        sink = spark.read.parquet(out)
        res = sink.select(
            "doc_id",
            "fp_md5",
            F.date_format("ingest_ts", "yyyy-MM-dd HH:mm:ss").alias("ingest"),
        ).orderBy("doc_id")
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_DEDUP_E2E_SQL = r"""
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5
  FROM documents
),
canon AS (SELECT fp_md5, min(doc_id) AS doc_id FROM fp GROUP BY fp_md5)
SELECT doc_id, fp_md5,
  strftime(TIMESTAMP '2003-01-01 00:00:00' + to_seconds(doc_id % 300), '%Y-%m-%d %H:%M:%S') AS ingest
FROM canon
ORDER BY doc_id
"""


def q_stream_custom_state_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (`applyInPandasWithState` per-IP
    session assembly, streaming/pipeline.py `stream_sessionize`) under
    the oracle — previously pytest-only, the last streaming lifecycle
    without a driver-verifiable query.

    Determinism contract: the operator runs in NoTimeout mode
    (`timeout_ms=None`) — wall-clock flushes would make the sink
    timing-dependent, and an availableNow run with armed processing-time
    timeouts never terminates on its own.  The corpus is ONE rotation
    file (one data batch), so emissions are a pure function of the data:
    exactly the gap-closed sessions (strict > 30 min between a key's
    consecutive events, matching the operator's `> gap_sec` test), while
    each key's open tail stays in state.  The oracle is the lag-cumsum
    sessionization MINUS each key's last (open) session."""
    from realparse_spark.streaming.pipeline import stream_sessionize

    events = load_table(spark, sf_dir, "events")
    lines = synth_style5(events)

    root = tempfile.mkdtemp(prefix="realparse_stream_state_")
    try:
        logs = os.path.join(root, "logs")
        os.makedirs(logs)
        out = os.path.join(root, "out")
        ck = os.path.join(root, "ck")

        _write_rotation(lines, root, logs, "rmaccess.log.20021011")
        stream_sessionize(
            spark, logs, out, ck, timeout_ms=None
        ).awaitTermination()

        sink = spark.read.parquet(out)
        res = sink.select(
            "client_ip_address",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        ).orderBy("client_ip_address", "session_start")
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# sessions break on gap > 1800 s (strict — the stateful fn tests
# `(t - last) > gap`); each key's LAST session is still open in state
# when the run terminates, so the oracle keeps sid < max(sid) only.
STREAM_CUSTOM_STATE_E2E_SQL = (
    "WITH "
    + _STYLE5_LINES_SQL.strip()
    + r""",
parsed AS (
  SELECT
    regexp_extract(value, '^(\S+)', 1) AS client_ip_address,
    strptime(regexp_extract(regexp_extract_all(value, '\[([^\]]*)\]', 1)[1],
                            '^(.+) -(\d+)$', 1), '%d/%b/%Y:%H:%M:%S') AS ts2
  FROM lines
),
flat AS (SELECT * FROM parsed WHERE ts2 IS NOT NULL),
marks AS (
  SELECT *, CASE WHEN epoch(ts2) - epoch(lag(ts2) OVER (
      PARTITION BY client_ip_address ORDER BY ts2)) > 1800.0
    THEN 1 ELSE 0 END AS brk
  FROM flat
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY client_ip_address ORDER BY ts2
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
),
agg AS (
  SELECT client_ip_address, sid, min(ts2) AS s0, max(ts2) AS s1,
         count(*) AS n, max(sid) OVER (PARTITION BY client_ip_address) AS last_sid
  FROM s GROUP BY client_ip_address, sid
)
SELECT client_ip_address,
  strftime(s0, '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(s1, '%Y-%m-%d %H:%M:%S') AS session_end,
  CAST(n AS BIGINT) AS n_events
FROM agg
WHERE sid < last_sid
ORDER BY client_ip_address, session_start
"""
)


def q_stream_enrich_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment join under the oracle — the last
    streaming lifecycle that was pytest-only (`stream_enrich_access`,
    streaming/pipeline.py): every micro-batch left-joins the parsed
    stream against a STATIC dimension (ip -> company for even last
    octets, derived deterministically from the same synthesized corpus),
    across two rotations sharing one checkpoint.

    Determinism contract: the join is stateless (no watermark, no state
    store), so after both availableNow runs the sink is exactly the
    batch left join of all parsed lines against the dim — which is what
    the oracle recomputes."""
    from realparse_spark.streaming.pipeline import stream_enrich_access

    events = load_table(spark, sf_dir, "events")
    split = events.agg(F.avg(F.unix_timestamp("ts"))).collect()[0][0]
    older = synth_style5(events.filter(F.unix_timestamp("ts") <= split))
    newer = synth_style5(events.filter(F.unix_timestamp("ts") > split))

    # static dim from the full corpus (batch, deterministic): even-last-
    # octet IPs get a company row; odd ones exercise the left join's NULLs
    octet = F.substring_index("client_ip_address", ".", -1).cast("int")
    dim = (
        older.unionByName(newer)
        .select(
            F.regexp_extract("value", r"^(\S+)", 1).alias("client_ip_address")
        )
        .distinct()
        .filter(octet % 2 == 0)
        .select(
            "client_ip_address",
            F.format_string("cust_%d", octet).alias("company_name"),
        )
    )

    root = tempfile.mkdtemp(prefix="realparse_stream_enrich_")
    try:
        logs = os.path.join(root, "logs")
        os.makedirs(logs)
        out = os.path.join(root, "out")
        ck = os.path.join(root, "ck")

        _write_rotation(older, root, logs, "rmaccess.log.20021011")
        stream_enrich_access(spark, logs, dim, out, ck).awaitTermination()
        _write_rotation(newer, root, logs, "rmaccess.log.20021012")
        stream_enrich_access(spark, logs, dim, out, ck).awaitTermination()

        sink = spark.read.parquet(out)
        res = (
            sink.select(
                F.coalesce("company_name", F.lit("none")).alias("company"),
                "client_ip_address",
            )
            .groupBy("company")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct("client_ip_address").cast("bigint").alias("n_ips"),
            )
            .orderBy("company")
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_ENRICH_E2E_SQL = (
    "WITH "
    + _STYLE5_LINES_SQL.strip()
    + r""",
ips AS (SELECT regexp_extract(value, '^(\S+)', 1) AS ip FROM lines),
dim AS (
  SELECT DISTINCT ip,
    'cust_' || CAST(CAST(string_split(ip, '.')[4] AS INTEGER) AS VARCHAR) AS company
  FROM ips WHERE CAST(string_split(ip, '.')[4] AS INTEGER) % 2 = 0
)
SELECT coalesce(d.company, 'none') AS company,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT i.ip) AS BIGINT) AS n_ips
FROM ips i LEFT JOIN dim d ON i.ip = d.ip
GROUP BY 1 ORDER BY 1
"""
)


# The streaming lifecycle's contract is identical to the batch loader's:
# after both runs every synthesized line is in the warehouse exactly once,
# so the oracle IS the load_e2e oracle (aggregate the lines directly).
def q_stream_quality_route_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-GATE router lifecycle (streaming/pipeline.py
    `stream_quality_route`): two JSON-lines rotations (even doc_ids,
    then odd) stream through the foreachBatch keep/drop fan-out with a
    shared checkpoint — the second run must process ONLY the new file
    (the file-source processed-file log), and every input row must land
    in EXACTLY one sink.  The report unions both sinks into per
    (source, route) doc/token counts; the oracle recomputes the same
    scan-speed rules (token floor, punctuation ceiling) in SQL over the
    whole corpus, so a double-append, a dropped rotation, or a routing
    divergence breaks the compare."""
    from realparse_spark.streaming.pipeline import stream_quality_route

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # the fixture corpus passes the gate everywhere, so PLANT junk docs
    # (punct-heavy, under the token floor) to force the drop route —
    # mirrored row-for-row in the oracle (the pii_density discipline).
    # Planted UNCONDITIONALLY: the oracle's junk UNION is unconditional,
    # so an empty corpus must still produce the 30 junk rows on both
    # sides rather than an empty-vs-30 mismatch (round-10 ADVICE); it
    # also guarantees the drop sink always exists.
    junk = spark.range(30).select(
        (F.col("id") + 20_000_000).alias("doc_id"),
        F.lit("junk").alias("source"),
        F.lit("??? !!! ###").alias("text"),
    )
    docs = docs.unionByName(junk)

    def jsonify(df: DataFrame) -> DataFrame:
        ingest = F.from_unixtime(
            F.unix_timestamp(F.lit("2003-01-01 00:00:00").cast("timestamp"))
            + F.col("doc_id") % 300
        )
        return df.select(
            F.to_json(
                F.struct(
                    F.col("doc_id"),
                    F.col("source"),
                    F.col("text"),
                    F.date_format(ingest, "yyyy-MM-dd HH:mm:ss").alias("ingest_ts"),
                )
            ).alias("value")
        )

    root = tempfile.mkdtemp(prefix="realparse_stream_route_")
    try:
        inbox = os.path.join(root, "inbox")
        os.makedirs(inbox)
        keep_dir = os.path.join(root, "keep")
        drop_dir = os.path.join(root, "drop")
        ck = os.path.join(root, "ck")

        _write_rotation(jsonify(docs.filter(F.col("doc_id") % 2 == 0)), root, inbox, "docs.0001.json")
        stream_quality_route(spark, inbox, keep_dir, drop_dir, ck).awaitTermination()
        _write_rotation(jsonify(docs.filter(F.col("doc_id") % 2 == 1)), root, inbox, "docs.0002.json")
        stream_quality_route(spark, inbox, keep_dir, drop_dir, ck).awaitTermination()

        def read_sink(path: str, route: str) -> DataFrame | None:
            # a route no document took never creates its directory (or
            # holds no part files) — skip it instead of failing the read
            if not os.path.isdir(path) or not any(
                f.endswith(".parquet") for f in os.listdir(path)
            ):
                return None
            return spark.read.parquet(path).withColumn("route", F.lit(route))

        sinks = [
            s
            for s in (read_sink(keep_dir, "keep"), read_sink(drop_dir, "drop"))
            if s is not None
        ]
        both = sinks[0]
        for s in sinks[1:]:
            both = both.unionByName(s)
        res = (
            both.groupBy("source", "route")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("n_tokens"),
            )
            .orderBy("source", "route")
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_QUALITY_ROUTE_E2E_SQL = r"""
WITH corpus AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'junk' AS source, '??? !!! ###' AS text FROM range(30)
),
scored AS (
  SELECT source,
    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tok,
    CASE WHEN len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) >= 5
          AND len(regexp_extract_all(text, '[^\w\s]')) * 5 < length(text)
         THEN 'keep' ELSE 'drop' END AS route
  FROM corpus
)
SELECT source, route,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM scored
GROUP BY source, route
ORDER BY source, route
"""


TRENDING_TOP_K = 3


def q_stream_topk_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-terms lifecycle (streaming/pipeline.py
    `stream_term_counts`): two strictly-ordered JSON-lines rotations of
    the document corpus stream through the watermarked per-window term
    count with a shared checkpoint, then the top-``TRENDING_TOP_K``
    terms per CLOSED window rank over the sink — the trending feed a
    content pipeline publishes (ranking runs post-sink because a window
    is final there; in-stream ranking would re-emit on every update).

    Determinism contract (the stream_window_e2e discipline): synthetic
    ingest_ts = T0 + doc_id % 3600 spans one hour over 5-min windows
    with a 10-min watermark; rotation 1 carries doc_id % 3600 < 1800,
    rotation 2 the strictly-newer rest, so no flushed window ever sees
    a late row; after the final run the no-data batch advances the
    watermark to max(ingest_ts) - 10min and flushes every window whose
    end is <= it — exactly the closed-window predicate the oracle's
    `wm` CTE applies to the batch recount.  Ranking ties break (count
    desc, term asc) identically in both engines."""
    from realparse_spark.streaming.pipeline import stream_term_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if docs.limit(1).count() == 0:  # empty corpus: typed empty feed
        return spark.createDataFrame(
            [], "window_start string, rk int, term string, n_mentions long"
        )

    def jsonify(df: DataFrame) -> DataFrame:
        ingest = F.from_unixtime(
            F.unix_timestamp(F.lit("2003-01-01 00:00:00").cast("timestamp"))
            + F.col("doc_id") % 3600
        )
        return df.select(
            F.to_json(
                F.struct(
                    F.col("doc_id"),
                    F.col("text"),
                    F.date_format(ingest, "yyyy-MM-dd HH:mm:ss").alias("ingest_ts"),
                )
            ).alias("value")
        )

    root = tempfile.mkdtemp(prefix="realparse_stream_topk_")
    try:
        inbox = os.path.join(root, "inbox")
        os.makedirs(inbox)
        out = os.path.join(root, "out")
        ck = os.path.join(root, "ck")

        r1 = docs.filter(F.pmod(F.col("doc_id"), F.lit(3600)) < 1800)
        r2 = docs.filter(F.pmod(F.col("doc_id"), F.lit(3600)) >= 1800)
        _write_rotation(jsonify(r1), root, inbox, "docs.0001.json")
        stream_term_counts(spark, inbox, out, ck).awaitTermination()
        _write_rotation(jsonify(r2), root, inbox, "docs.0002.json")
        stream_term_counts(spark, inbox, out, ck).awaitTermination()

        from pyspark.sql.window import Window

        sink = spark.read.parquet(out)
        w = Window.partitionBy("window_start").orderBy(
            F.col("n_mentions").desc(), F.col("term")
        )
        res = (
            sink.withColumn("rk", F.row_number().over(w).cast("int"))
            .filter(F.col("rk") <= TRENDING_TOP_K)
            .select(
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "rk",
                "term",
                F.col("n_mentions").cast("bigint").alias("n_mentions"),
            )
            .orderBy("window_start", "rk")
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_TOPK_E2E_SQL = rf"""
WITH ing AS (
  SELECT to_timestamp(epoch(TIMESTAMP '2003-01-01 00:00:00') + doc_id % 3600) AS ingest_ts,
    text
  FROM documents
),
wm AS (SELECT max(epoch(ingest_ts)) - 600 AS w FROM ing),
terms AS (
  SELECT to_timestamp(CAST(floor(epoch(ingest_ts) / 300) * 300 AS BIGINT)) AS ws,
    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
  FROM ing
),
counts AS (
  SELECT ws, term, CAST(count(*) AS BIGINT) AS n_mentions
  FROM terms, wm
  WHERE epoch(ws) + 300 <= wm.w
  GROUP BY ws, term
),
ranked AS (
  SELECT ws, term, n_mentions,
    row_number() OVER (PARTITION BY ws ORDER BY n_mentions DESC, term) AS rk
  FROM counts
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
  CAST(rk AS INTEGER) AS rk, term, n_mentions
FROM ranked
WHERE rk <= {TRENDING_TOP_K}
ORDER BY window_start, rk
"""


QUERIES = {
    "stream_topk_e2e": q_stream_topk_e2e,
    "stream_quality_route_e2e": q_stream_quality_route_e2e,
    "stream_enrich_e2e": q_stream_enrich_e2e,
    "stream_window_e2e": q_stream_window_e2e,
    "stream_upsert_e2e": q_stream_upsert_e2e,
    "stream_join_e2e": q_stream_join_e2e,
    "stream_dedup_e2e": q_stream_dedup_e2e,
    "stream_session_e2e": q_stream_session_e2e,
    "stream_custom_state_e2e": q_stream_custom_state_e2e,
}
ORACLES = {
    "stream_enrich_e2e": STREAM_ENRICH_E2E_SQL,
    "stream_topk_e2e": STREAM_TOPK_E2E_SQL,
    "stream_quality_route_e2e": STREAM_QUALITY_ROUTE_E2E_SQL,
    "stream_dedup_e2e": STREAM_DEDUP_E2E_SQL,
    "stream_session_e2e": STREAM_SESSION_E2E_SQL,
    "stream_custom_state_e2e": STREAM_CUSTOM_STATE_E2E_SQL,
    "stream_window_e2e": STREAM_WINDOW_E2E_SQL,
    "stream_upsert_e2e": STREAM_UPSERT_E2E_SQL,
    "stream_join_e2e": STREAM_JOIN_E2E_SQL,
}
