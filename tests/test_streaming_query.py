"""Driver-visible streaming lifecycle queries (§2.8): oracle-relied
invariants and planted behavior.  Value parity vs DuckDB is covered by
the registry-wide test_oracle_parity suite."""

from __future__ import annotations

import duckdb

from tests.conftest import SF_DIR, SF_DIR_ORACLE


def test_dedup_key_unique_in_synth_corpus():
    """`stream_upsert_e2e` merges on (client_ip_address, event_ts); its
    oracle counts every distinct line, which is sound only while (ip,
    second) is unique in the synthesized corpus.  Pin that invariant at both test scales (the key
    derives from event_id/user_id/ts arithmetic — cheap to check in DuckDB)."""
    for sf_dir in (SF_DIR, SF_DIR_ORACLE):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        n, d = con.execute(
            """
            SELECT count(*),
                   count(DISTINCT (printf('10.%d.%d.%d', event_id % 200,
                                          (user_id * 7) % 250, 1 + (event_id % 250)),
                                   strftime(ts, '%Y-%m-%d %H:%M:%S')))
            FROM events
            """
        ).fetchone()
        con.close()
        assert n == d, f"(ip, second) not unique at {sf_dir}: {n} rows, {d} keys"


def test_stream_term_counts_flushes_closed_windows_only(spark, tmp_path):
    """Planted trending behavior for the topk lifecycle's aggregation
    stage: a term spiking inside one 5-min window dominates that
    window's counts; windows whose end the final watermark (max ts -
    10 min) has not passed never reach the sink; the second rotation's
    strictly-newer rows flush the first rotation's windows."""
    import json

    from realparse_spark.streaming.pipeline import stream_term_counts

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def write(name, rows):
        p = tmp_path / name
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        p.rename(inbox / name)

    t0 = "2003-01-01 00:0{m}:00"
    # window [00:00, 05:00): 'spike' x3 + filler; [05:00, 10:00): filler only
    r1 = [
        {"doc_id": 1, "text": "spike spike spike base", "ingest_ts": t0.format(m=1)},
        {"doc_id": 2, "text": "base other", "ingest_ts": t0.format(m=2)},
        {"doc_id": 3, "text": "late window filler", "ingest_ts": "2003-01-01 00:06:00"},
    ]
    # rotation 2: strictly newer; final watermark = 00:21 - 10min = 00:11
    # -> windows ending 00:05 and 00:10 flush, the 00:20 window stays open
    r2 = [{"doc_id": 4, "text": "tail", "ingest_ts": "2003-01-01 00:21:00"}]
    write("docs.0001.json", r1)
    stream_term_counts(spark, str(inbox), out, ck).awaitTermination()
    write("docs.0002.json", r2)
    stream_term_counts(spark, str(inbox), out, ck).awaitTermination()

    sink = spark.read.parquet(out).collect()
    by_win = {}
    for r in sink:
        by_win.setdefault(str(r.window_start)[11:16], {})[r.term] = r.n_mentions
    assert set(by_win) == {"00:00", "00:05"}  # the 00:20 window never flushed
    assert by_win["00:00"]["spike"] == 3
    assert by_win["00:00"]["base"] == 2
    assert by_win["00:05"] == {"late": 1, "window": 1, "filler": 1}
