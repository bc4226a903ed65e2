"""Structured Streaming pipeline tests: keyed upserts, watermarked windowed
aggregation, stateful sessionization."""

from __future__ import annotations

import pytest

from tests.test_load_pipeline import STATS_FULL, style5_line


@pytest.fixture()
def stream_log_dir(tmp_path):
    d = tmp_path / "slogs"
    d.mkdir()
    (d / "rmaccess.log.1").write_text(
        "\n".join(
            [
                style5_line("10.0.0.1", "12/Oct/2002:09:00:00", "/m/a.rm", stats=STATS_FULL),
                style5_line("10.0.0.1", "12/Oct/2002:09:10:00", "/m/a.rm"),
                style5_line("10.0.0.2", "12/Oct/2002:09:20:00", "/m/b.rm"),
                # same ip+ts duplicate -> dropDuplicates must kill it
                style5_line("10.0.0.2", "12/Oct/2002:09:20:00", "/m/b.rm"),
            ]
        )
        + "\n"
    )
    return d


def test_stream_upsert_foreachbatch(spark, stream_log_dir, tmp_path):
    """Re-delivering the same file through a FRESH checkpoint (simulating
    an at-least-once source replay) must not duplicate rows — the upsert
    converges on the natural key."""
    from realparse_spark.streaming.pipeline import stream_upsert_access

    table = str(tmp_path / "acc")
    q = stream_upsert_access(spark, str(stream_log_dir), table, str(tmp_path / "c1"))
    q.awaitTermination(120)
    n1 = spark.read.parquet(table).count()
    assert n1 == 3  # in-batch duplicate collapsed

    # replay with a new checkpoint: same files processed again
    q2 = stream_upsert_access(spark, str(stream_log_dir), table, str(tmp_path / "c2"))
    q2.awaitTermination(120)
    assert spark.read.parquet(table).count() == n1


def test_stream_windowed_views(spark, stream_log_dir, tmp_path):
    from realparse_spark.streaming.pipeline import stream_windowed_views

    out = str(tmp_path / "win")
    ckpt = str(tmp_path / "wckpt")
    q = stream_windowed_views(spark, str(stream_log_dir), out, ckpt)
    q.awaitTermination(120)
    # append mode: a window emits only once a LATER batch advances the
    # watermark past its end — feed a second batch with much later events.
    (stream_log_dir / "rmaccess.log.5").write_text(
        style5_line("10.0.0.9", "12/Oct/2002:13:00:00", "/m/later.rm") + "\n"
    )
    q2 = stream_windowed_views(spark, str(stream_log_dir), out, ckpt)
    q2.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    got = {(r.window_start.hour, r.name): r.n_views for r in rows}
    # the 09:00 window holds a.rm x2 and b.rm x2 (pre-dedup counts)
    assert got.get((9, "a.rm")) == 2
    assert got.get((9, "b.rm")) == 2


def test_window_eviction_boundary_inclusive(spark, tmp_path):
    """Boundary pin for the stream_window_e2e oracle: when max(event_ts)
    lands EXACTLY on a half-hour mark, the watermark (max - 30min) equals a
    window end, and the oracle's `end <= watermark` predicate assumes
    Spark's append-mode eviction is INCLUSIVE at that equality.  Place max
    ts at 11:30:00 sharp: watermark = 11:00:00; the [10:00, 11:00) window
    (end == watermark) must be in the sink, the [11:00, 12:00) window must
    not."""
    from realparse_spark.streaming.pipeline import stream_windowed_views

    d = tmp_path / "boundary_logs"
    d.mkdir()
    (d / "rmaccess.log.1").write_text(
        style5_line("10.0.0.1", "12/Oct/2002:10:15:00", "/m/a.rm") + "\n"
        + style5_line("10.0.0.2", "12/Oct/2002:10:45:00", "/m/a.rm") + "\n"
    )
    out, ck = str(tmp_path / "bwin"), str(tmp_path / "bck")
    stream_windowed_views(spark, str(d), out, ck).awaitTermination(120)
    (d / "rmaccess.log.2").write_text(
        style5_line("10.0.0.3", "12/Oct/2002:11:30:00", "/m/b.rm") + "\n"
    )
    stream_windowed_views(spark, str(d), out, ck).awaitTermination(120)
    hours = {r.window_start.hour for r in spark.read.parquet(out).collect()}
    assert 10 in hours, "window with end == watermark must be emitted (inclusive eviction)"
    assert 11 not in hours, "open window past the watermark must stay in state"


def test_stream_dedup_docs(spark, tmp_path):
    """Cross-batch fingerprint dedup: a re-delivered document (same text,
    new doc_id/timestamp, within the watermark delay) must not appear
    twice in the sink; genuinely new docs must."""
    import json

    from realparse_spark.streaming.pipeline import stream_dedup_docs

    src = tmp_path / "docs_in"
    src.mkdir()
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")

    def doc(i, text, ts):
        return json.dumps({"doc_id": i, "text": text, "ingest_ts": ts})

    (src / "b1.json").write_text(
        "\n".join(
            [
                doc(1, "alpha beta gamma", "2002-10-12T09:00:00Z"),
                # same normalized text, different id -> in-batch dup
                doc(2, "  alpha  beta gamma ", "2002-10-12T09:00:30Z"),
                doc(3, "delta epsilon", "2002-10-12T09:01:00Z"),
            ]
        )
        + "\n"
    )
    q = stream_dedup_docs(spark, str(src), out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # batch 2: re-delivery of doc 1's text (cross-batch dup) + one new doc
    (src / "b2.json").write_text(
        "\n".join(
            [
                doc(4, "alpha beta gamma", "2002-10-12T09:02:00Z"),
                doc(5, "zeta eta", "2002-10-12T09:03:00Z"),
            ]
        )
        + "\n"
    )
    q2 = stream_dedup_docs(spark, str(src), out, ckpt)
    q2.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert {r.doc_id for r in back.collect()} == {1, 3, 5}


def test_stream_sessionize(spark, stream_log_dir, tmp_path):
    from realparse_spark.streaming.pipeline import stream_sessionize

    out = str(tmp_path / "sess")
    ckpt = str(tmp_path / "sckpt")
    # second batch far in event time -> closes ip1's first session
    (stream_log_dir / "rmaccess.log.9").write_text(
        style5_line("10.0.0.1", "12/Oct/2002:14:00:00", "/m/z.rm") + "\n"
    )
    # a SHORT processing-time timeout: availableNow keeps scheduling
    # micro-batches while timeouts are armed, so the open tails flush
    # ~2 s after the data batch and the query then terminates on its own
    # (the default 60 s timeout made this test sit idle for minutes
    # without ever asserting the flush it was waiting out)
    q = stream_sessionize(
        spark, str(stream_log_dir), out, ckpt, gap_minutes=30, timeout_ms=2000
    )
    # an availableNow run with ProcessingTimeTimeout keeps scheduling
    # micro-batches indefinitely (even after every key flushed — observed
    # here and documented in stream_sessionize's docstring), so poll the
    # sink for the expected rows and stop the query explicitly instead of
    # waiting out a timeout that will never fire
    import time as _time

    want = {("10.0.0.1", 2), ("10.0.0.1", 1)}
    by_ip: set = set()
    deadline = _time.time() + 120
    while _time.time() < deadline and not want <= by_ip:
        _time.sleep(1)
        try:
            rows = spark.read.parquet(out).collect()
        except Exception:  # noqa: BLE001 — sink dir not written yet
            continue
        by_ip = {(r.client_ip_address, r.n_events) for r in rows}
    q.stop()
    # ip1: events at 09:00, 09:10 then 14:00 -> first session (2 events)
    # closed by the gap; the 14:00 tail is flushed by the processing-time
    # TIMEOUT path (state emitted + removed), not left open forever
    assert want <= by_ip, by_ip


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join must emit exactly the
    batch join of the same inputs (inner matches emit eagerly; the time
    bound only governs state eviction)."""
    from pyspark.sql import functions as F

    from realparse_spark.streaming.pipeline import stream_view_purchase_join

    views = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 13:00:00"),
            (2, "2024-01-01 10:30:00"),
            (3, "2024-01-01 09:00:00"),
        ],
        "user_id int, view_ts string",
    ).select("user_id", F.to_timestamp("view_ts").alias("view_ts"))
    buys = spark.createDataFrame(
        [
            (1, "2024-01-01 11:00:00", 5.0),   # joins 10:00 view only
            (1, "2024-01-01 13:30:00", 7.0),   # joins 13:00 view only
            (2, "2024-01-01 12:29:59", 9.0),   # inside the 2h bound
            (2, "2024-01-01 12:30:00", 9.5),   # exactly at bound -> excluded
            (3, "2024-01-01 08:00:00", 1.0),   # before the view -> excluded
            (4, "2024-01-01 10:00:00", 2.0),   # no matching view user
        ],
        "user_id int, buy_ts string, value double",
    ).select("user_id", F.to_timestamp("buy_ts").alias("buy_ts"), "value")

    vd, bd = str(tmp_path / "v"), str(tmp_path / "b")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    views.write.parquet(vd)
    buys.write.parquet(bd)

    q = stream_view_purchase_join(spark, vd, bd, out, ck, within="2 hours")
    q.awaitTermination(180)

    got = {
        (r.user_id, str(r.view_ts), str(r.buy_ts), r.value)
        for r in spark.read.parquet(out).collect()
    }
    expect = {
        (1, "2024-01-01 10:00:00", "2024-01-01 11:00:00", 5.0),
        (1, "2024-01-01 13:00:00", "2024-01-01 13:30:00", 7.0),
        (2, "2024-01-01 10:30:00", "2024-01-01 12:29:59", 9.0),
    }
    assert got == expect


def test_stream_static_enrich_join(spark, stream_log_dir, tmp_path):
    """Stream-static join: each micro-batch joins against the broadcast
    static dim; unmatched stream rows keep NULL dim columns (left join)."""
    from realparse_spark.streaming.pipeline import stream_enrich_access

    dim = spark.createDataFrame(
        [("10.0.0.1", "Acme"), ("10.0.0.9", "Ghost")],
        "client_ip_address string, company_name string",
    )
    out, ck = str(tmp_path / "eout"), str(tmp_path / "eck")
    q = stream_enrich_access(spark, str(stream_log_dir), dim, out, ck)
    q.awaitTermination(120)

    back = spark.read.parquet(out)
    rows = {(r.client_ip_address, r.company_name) for r in back.collect()}
    assert ("10.0.0.1", "Acme") in rows
    assert ("10.0.0.2", None) in rows  # no dim row -> NULL, row kept
    assert back.count() == 4  # every parsed line survives the left join
