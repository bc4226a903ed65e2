"""End-to-end load pipeline tests (SURVEY.md §3.1-3.2 shapes): rotated log
files -> parse -> watermark -> star-schema parquet warehouse."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from realparse_spark.operators.load import (
    ACCESS_TABLES,
    WEB_TABLES,
    load_style5,
    load_weblog,
    read_warehouse_table,
)
from realparse_spark.sources.logs import latest_files, read_server_config


def style5_line(ip: str, ts: str, fname: str, *, status=200, stats="", tail="2097152 180 175 5 1 42",
                client="Win_5.0_6.0.9.373_play32_RN01_EN_586_0",
                guid="01234567-89ab-cdef-0123-456789abcdef") -> str:
    return (
        f'{ip} - - [{ts} -0800] "GET {fname} RTSP/1.0" {status} 1048576 '
        f"[{client}] [{guid}]{stats} {tail}"
    )


STATS_FULL = (
    " [Stat1: 1200 3 2 1 4 audio/x-pn-realaudio]"
    " [Stat2: 80000 64000 80000 16000 60000 1200 1195 4 1.5 1 2 audio/x-pn-realaudio]"
)


def web_line(ts: str, fname: str) -> str:
    return f'10.0.22.9 - - [{ts} -0800] "GET {fname} HTTP/1.1" 200 1000 "-" "NSPlayer/9.0"'


def no_rows(tables, quarantine=0) -> dict[str, int]:
    return dict.fromkeys(tables, 0) | {"quarantine": quarantine}


def load_state(wh: str) -> dict:
    """The warehouse's `_state` record: max_key and per-family watermarks."""
    with open(os.path.join(wh, "_state")) as fh:
        return json.load(fh)


def warehouse_files(wh: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(r, f), wh)
        for r, _dirs, files in os.walk(wh) for f in files
    }


def listed_files(wh: str) -> dict[str, list[str]]:
    """The tables `_state` lists files for, each with its (sorted) files."""
    return {t: files for t, files in load_state(wh)["files"].items() if files}


def parquet_on_disk(wh: str) -> dict[str, list[str]]:
    """Each table's parquet files on disk, relative to the table."""
    found: dict[str, list[str]] = {}
    for f in sorted(warehouse_files(wh)):
        table, _, rel = f.partition(os.sep)
        if f.endswith(".parquet"):
            found.setdefault(table, []).append(rel)
    return found


@pytest.fixture()
def log_dir(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    # three rotated files; only the last two should load (S2)
    (d / "rmaccess.log.20021010").write_text(
        style5_line("10.0.0.1", "10/Oct/2002:01:00:00", "/old/skip.rm") + "\n"
    )
    (d / "rmaccess.log.20021012").write_text(
        "\n".join(
            [
                style5_line("10.0.0.2", "12/Oct/2002:09:00:00", "/media/a/one.rm", stats=STATS_FULL),
                style5_line("10.0.0.3", "12/Oct/2002:10:00:00", "/media/a/two.rm", stats=" [Stat3: rawdata]"),
            ]
        )
        + "\n"
    )
    (d / "rmaccess.log.20021013").write_text(
        style5_line(
            "10.0.0.4", "13/Oct/2002:09:03:38", "/media/b/three.rm?arg=1",
            client="QT (qtver=6.0;os=Mac OS X)", stats=" [Stat1: 5 4 3 2 1 ]",
        )
        + "\n"
    )
    (d / ".hidden").write_text("ignore me\n")
    (d / "other.log").write_text("not an rmaccess file\n")
    return str(d)


def test_latest_files_pruning(log_dir):
    got = [os.path.basename(p) for p in latest_files(log_dir, "rmaccess")]
    assert got == ["rmaccess.log.20021012", "rmaccess.log.20021013"]


def test_style5_load_and_idempotence(spark, log_dir, tmp_path):
    wh = str(tmp_path / "wh")
    counts = load_style5(spark, log_dir, wh)
    # 3 lines in latest-2 files
    assert counts["access"] == counts["file"] == counts["client"] == counts["network"] == 3
    assert counts["stats_mask1"] == 2  # full + empty-audio variants
    assert counts["stats_mask2"] == 1
    assert counts["stats_mask3"] == 1

    access = read_warehouse_table(spark, wh, "access")
    assert access.filter(F.col("server_type") == 1).count() == 3
    assert access.filter(F.col("logging_style") == 5).count() == 3

    file_t = read_warehouse_table(spark, wh, "file")
    names = {r.name for r in file_t.select("name").collect()}
    assert names == {"one.rm", "two.rm", "three.rm"}  # query arg truncated (P10)

    client = read_warehouse_table(spark, wh, "client")
    qt = client.filter(F.col("type") == "QT").collect()
    assert len(qt) == 1 and qt[0].os_version == "Mac OS X"

    s1 = read_warehouse_table(spark, wh, "stats_mask1")
    fmts = {r.audio_format for r in s1.collect()}
    assert fmts == {"audio/x-pn-realaudio", "UNKNOWN"}  # C12 default

    # FK integrity: each one-row-per-line table holds exactly access's ids
    # (keys that drifted between appends would show here); every stats key
    # appears in access
    ids = {r.access_id for r in access.collect()}
    for t in ACCESS_TABLES[1:]:
        child = {r.access_id for r in read_warehouse_table(spark, wh, t).collect()}
        if t in ("file", "client", "network"):
            assert child == ids, t
        else:
            assert child <= ids, t

    # re-run: every line is a tie or late, the watermark drops them all and
    # the cycle appends nothing, not even a new `_state` (F1 idempotence)
    before, state = warehouse_files(wh), load_state(wh)
    assert load_style5(spark, log_dir, wh) == no_rows(ACCESS_TABLES)
    assert warehouse_files(wh) == before and load_state(wh) == state
    assert read_warehouse_table(spark, wh, "access").count() == 3

    # new rotated file with strictly newer rows -> only those load
    with open(os.path.join(log_dir, "rmaccess.log.20021014"), "w") as fh:
        fh.write(style5_line("10.0.0.5", "14/Oct/2002:08:00:00", "/media/c/four.rm") + "\n")
        # tie with existing max (13/Oct 09:03:38) must be dropped (strict >)
        fh.write(style5_line("10.0.0.6", "13/Oct/2002:09:03:38", "/media/c/tie.rm") + "\n")
    counts3 = load_style5(spark, log_dir, wh)
    # a line without stats: every stats table gets zero rows
    assert counts3 == no_rows(ACCESS_TABLES) | dict.fromkeys(("access", "file", "client", "network"), 1)
    assert read_warehouse_table(spark, wh, "access").count() == 4


def test_load_single_scan(spark, tmp_path):
    """The load must parse the corpus ONCE: quarantine count/write and the
    keyed star-schema writes all branch off one persisted parse.  Measured
    via Hadoop FileSystem byte-read statistics (local mode = one JVM, so
    driver-side statistics see every task's reads): total 'file'-scheme
    bytes read during the load must stay well under 2x the raw log size —
    the pre-fix pipeline re-scanned the text ~3x."""
    d = tmp_path / "biglogs"
    d.mkdir()
    lines = [
        style5_line(f"10.0.{i % 256}.{i % 250}", f"12/Oct/2002:09:{i % 60:02d}:{i % 60:02d}",
                    f"/media/x/clip{i}.rm", stats=STATS_FULL)
        for i in range(8000)
    ]
    lines.append("not a parseable line at all")  # exercises the quarantine write
    (d / "rmaccess.log.20021012").write_text("\n".join(lines) + "\n")
    log_bytes = os.path.getsize(d / "rmaccess.log.20021012")
    assert log_bytes > 1_000_000  # big enough that fixed overheads are noise

    jvm = spark.sparkContext._jvm
    def file_bytes_read():
        return sum(
            s.getBytesRead()
            for s in jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
            if s.getScheme() == "file"
        )

    before = file_bytes_read()
    counts = load_style5(spark, str(d), str(tmp_path / "wh_scan"), latest=None)
    delta = file_bytes_read() - before
    assert counts["access"] == 8000 and counts["quarantine"] == 1
    # one text scan + parquet commit overhead; 3 scans would be ~3.0x
    assert delta < 1.8 * log_bytes, f"read {delta} bytes for a {log_bytes}-byte corpus"


def test_state_record_crash_safe(spark, log_dir, tmp_path, monkeypatch):
    """The surrogate-key base comes from `_state` (a one-line read — at
    100 TB a table-property GET), never a full-table `max(access_id)` scan;
    `_state` is published by the same commit as the rows it covers, so a
    crashed load publishes neither: it burns no ids and can never collide."""
    from realparse_spark.operators import load as L

    wh = str(tmp_path / "wh_key")
    L.load_style5(spark, log_dir, wh)
    access = read_warehouse_table(spark, wh, "access")
    hi = access.agg(F.max("access_id").alias("m")).collect()[0].m
    assert load_state(wh)["max_key"] == hi

    # crash at the access append: nothing is published, no id is burned
    with open(os.path.join(log_dir, "rmaccess.log.20021015"), "w") as fh:
        fh.write(style5_line("10.0.0.7", "15/Oct/2002:08:00:00", "/media/c/five.rm") + "\n")
    real_append = L._append

    def boom(df, warehouse, name):
        if name == "access":
            raise RuntimeError("simulated crash mid-load")
        real_append(df, warehouse, name)

    monkeypatch.setattr(L, "_append", boom)
    with pytest.raises(RuntimeError):
        L.load_style5(spark, log_dir, wh)
    monkeypatch.undo()
    assert load_state(wh)["max_key"] == hi

    counts = L.load_style5(spark, log_dir, wh)
    assert counts["access"] == 1
    ids = [
        r.access_id
        for r in read_warehouse_table(spark, wh, "access").select("access_id").collect()
    ]
    assert len(ids) == len(set(ids)), "surrogate key collision after crash"


def test_components_placeholder(spark, log_dir, tmp_path):
    """real_parse.pl:43 locks a `components` table it never writes; the
    warehouse mirrors it: typed, empty, present after any load, never
    appended to."""
    wh = str(tmp_path / "wh_comp")
    load_style5(spark, str(log_dir), wh)
    comp = read_warehouse_table(spark, wh, "components")
    assert comp.count() == 0
    assert comp.columns == ["component_id", "access_id", "component"]
    load_style5(spark, str(log_dir), wh)  # second run: still empty, no append
    assert read_warehouse_table(spark, wh, "components").count() == 0


def test_todays_file_mtime_pick(spark, log_dir):
    """S3 — open_log.pl:22-28 picks the file whose mtime date is today;
    files just written all have today's mtime."""
    from realparse_spark.sources.logs import todays_file

    got = {os.path.basename(p) for p in todays_file(spark, log_dir, "rmaccess")}
    assert got == {
        "rmaccess.log.20021010",
        "rmaccess.log.20021012",
        "rmaccess.log.20021013",
    }
    from datetime import date

    assert todays_file(spark, log_dir, "rmaccess", today=date(2001, 1, 1)) == []


def test_config_gate(spark, log_dir, tmp_path):
    cfg = tmp_path / "rmserver.cfg"
    cfg.write_text('<Var LoggingStyle="3"/>\n<Var StatsMask="2"/>\n')
    assert read_server_config(str(cfg)) == (3, 2)
    assert load_style5(spark, log_dir, str(tmp_path / "wh2"), config_path=str(cfg)) == {}


def test_weblog_load(spark, tmp_path):
    d = tmp_path / "weblogs"
    d.mkdir()
    lines = [
        '10.0.22.9 - - [13/Oct/2002:10:15:01 -0800] "GET /media/s/intro.wmv HTTP/1.1" 200 524288 "-" "Mozilla/4.0 (WMP 7.1)"',
        '10.0.22.9 - - [13/Oct/2002:10:16:01 -0800] "GET /media/s/a.wma HTTP/1.1" 200 1000 "-" "NSPlayer/9.0"',
        '10.0.22.9 - - [13/Oct/2002:10:17:01 -0800] "GET /index.html HTTP/1.1" 200 99 "-" "Mozilla/5.0"',
    ]
    (d / "log.1").write_text("\n".join(lines) + "\n")
    wh = str(tmp_path / "wh3")
    counts = load_weblog(spark, str(d), wh)
    assert counts["access"] == 2  # F4: .html row filtered out

    access = read_warehouse_table(spark, wh, "access")
    assert access.filter(F.col("logging_style").isNull()).count() == 2
    assert access.filter(F.col("server_type") == 0).count() == 2
    client = read_warehouse_table(spark, wh, "client")
    infos = {r.client_info for r in client.collect()}
    assert infos == {"Mozilla/4.0 (WMP 7.1)", "NSPlayer/9.0"}

    # both families share the warehouse: style-5 watermark is independent (F2)
    assert load_weblog(spark, str(d), wh) == no_rows(WEB_TABLES)


def test_mixed_family_warehouse(spark, log_dir, tmp_path):
    """style-5, then web, then style-5 again into ONE warehouse: the two
    families share the surrogate-key sequence but keep separate watermarks
    and their own server_type/logging_style/stats_mask literals."""
    # one web line older than every style-5 line (it loads only if the web
    # watermark ignores style-5 rows), one newer than all of them
    with open(os.path.join(log_dir, "log.1"), "w") as fh:
        fh.write(
            '10.0.22.9 - - [12/Oct/2002:08:00:00 -0800] "GET /media/s/early.wmv HTTP/1.1" '
            '200 524288 "-" "NSPlayer/9.0"\n'
            '10.0.22.9 - - [20/Oct/2002:10:00:00 -0800] "GET /media/s/late.wma HTTP/1.1" '
            '200 1000 "-" "NSPlayer/9.0"\n'
        )
    wh = str(tmp_path / "wh_mixed")

    def access_ids() -> set[int]:
        rows = read_warehouse_table(spark, wh, "access").select("access_id").collect()
        return {r.access_id for r in rows}

    assert load_style5(spark, log_dir, wh)["access"] == 3
    real_ids = access_ids()
    assert load_weblog(spark, log_dir, wh) == {"access": 2, "file": 2, "client": 2, "quarantine": 0}
    web_ids = access_ids() - real_ids
    assert len(web_ids) == 2  # disjoint from the style-5 keys
    assert set(load_style5(spark, log_dir, wh).values()) == {0}
    assert access_ids() == real_ids | web_ids

    access = read_warehouse_table(spark, wh, "access")
    web = access.filter(F.col("access_id").isin(list(web_ids))).collect()
    assert {(r.server_type, r.logging_style, r.stats_mask) for r in web} == {(0, None, None)}
    real = access.filter(F.col("access_id").isin(list(real_ids))).collect()
    assert {(r.server_type, r.logging_style, r.stats_mask) for r in real} == {(1, 5, 7)}

    family_max = {
        r.server_type: r.wm
        for r in access.groupBy("server_type")
        .agg(F.max(F.unix_timestamp("datetime")).alias("wm"))
        .collect()
    }
    assert family_max[1] < family_max[0]
    max_id = access.agg(F.max("access_id")).collect()[0][0]
    state = load_state(wh)
    assert (state["max_key"], state["watermark"]) == (
        max_id, {str(k): v for k, v in family_max.items()},
    )
    # `_state` lists exactly the data files both families wrote
    assert listed_files(wh) == parquet_on_disk(wh)
    assert set(listed_files(wh)) == {*ACCESS_TABLES, "components"}
    # progress lives in `_state` alone: no sidecar inside the access table
    # (`_SUCCESS` is the parquet writer's job marker, not a record)
    assert {f for f in os.listdir(os.path.join(wh, "access")) if f.startswith("_")} <= {"_SUCCESS"}


def test_cycle_job_budget(spark, tmp_path):
    """Every count of a cycle is observed on a job that runs anyway.  With a
    watermark in place and one malformed line, a style-5 cycle is one
    observed pass plus one job per append (eight), and a web cycle one plus
    four.  A bookkeeping count() or collect() would add 2-3 jobs each under
    AQE."""
    d = tmp_path / "logs"
    d.mkdir()
    wh = str(tmp_path / "wh")
    (d / "rmaccess.log.1").write_text(
        style5_line("10.0.0.1", "12/Oct/2002:09:00:00", "/media/a/one.rm", stats=STATS_FULL) + "\n"
    )
    (d / "log.1").write_text(web_line("12/Oct/2002:09:00:00", "/media/s/one.wmv") + "\n")
    load_style5(spark, str(d), wh)
    load_weblog(spark, str(d), wh)
    (d / "rmaccess.log.2").write_text(
        style5_line("10.0.0.2", "13/Oct/2002:09:00:00", "/media/a/two.rm", stats=STATS_FULL)
        + "\nnot a log line\n"
    )
    (d / "log.2").write_text(
        web_line("13/Oct/2002:09:00:00", "/media/s/two.wma") + "\nnot a log line.wma\n"
    )

    sc = spark.sparkContext

    def jobs(group, load):
        sc.setJobGroup(group, group)
        try:
            counts = load(spark, str(d), wh)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return counts, len(sc.statusTracker().getJobIdsForGroup(group))

    counts, n = jobs("budget-style5", load_style5)
    # STATS_FULL carries Stat1 and Stat2 only: stats_mask3 observes no row
    assert counts == no_rows(ACCESS_TABLES, quarantine=1) | dict.fromkeys(ACCESS_TABLES[:6], 1)
    assert n <= 9, n
    counts, n = jobs("budget-web", load_weblog)
    assert counts == no_rows(WEB_TABLES, quarantine=1) | dict.fromkeys(WEB_TABLES, 1)
    assert n <= 5, n


@pytest.mark.parametrize("bad_lines", [0, 2])
def test_cycle_that_keys_no_line(spark, tmp_path, bad_lines):
    """A cycle whose keyed pass sees no row (an empty log directory, or a
    file of malformed lines only) returns zero counts, moves neither the key
    nor a watermark and appends nothing but its quarantined lines."""
    d = tmp_path / "logs"
    d.mkdir()
    wh = str(tmp_path / "wh")
    if bad_lines:
        (d / "rmaccess.log.1").write_text("not a log line\n" * bad_lines)
        (d / "log.1").write_text("not a log line.wma\n" * bad_lines)
    assert load_style5(spark, str(d), wh) == no_rows(ACCESS_TABLES, bad_lines)
    assert load_weblog(spark, str(d), wh) == no_rows(WEB_TABLES, bad_lines)

    state = load_state(wh)
    assert (state["max_key"], state["watermark"]) == (-1, {})
    assert listed_files(wh) == parquet_on_disk(wh)
    # `_`-prefixed entries are not tables: the `_lease` lock file stays by design
    tables = {f.split(os.sep)[0] for f in warehouse_files(wh) if not f.startswith("_")}
    assert tables == ({"components", "quarantine"} if bad_lines else {"components"})
    if bad_lines:
        assert read_warehouse_table(spark, wh, "quarantine").count() == 2 * bad_lines


def test_warehouse_without_state_is_refused(spark, log_dir, tmp_path):
    """A warehouse with `access` rows but no `_state` has unknown progress:
    starting it from key 0 and no watermark would reuse ids and reload
    loaded lines, so the cycle raises and publishes nothing."""
    wh = str(tmp_path / "wh_nostate")
    load_style5(spark, log_dir, wh)
    os.remove(os.path.join(wh, "_state"))
    before = {f: os.path.getmtime(os.path.join(wh, f)) for f in warehouse_files(wh)}
    with pytest.raises(ValueError, match="_state"):
        load_style5(spark, log_dir, wh)
    assert {f: os.path.getmtime(os.path.join(wh, f)) for f in warehouse_files(wh)} == before

    # a compaction publishes file lists, not load progress: still refused
    from realparse_spark.operators.compact import compact_table

    compact_table(spark, os.path.join(wh, "access"), partition_by=["server_type", "access_date"])
    with pytest.raises(ValueError, match="_state"):
        load_style5(spark, log_dir, wh)


def test_read_warehouse_table_errors_propagate(spark, tmp_path):
    """A table that lists no data file reads as None ("run a load first"),
    and a file that `_state` does not list is never read; a listed file
    that cannot be read raises instead of passing for a missing table."""
    wh = tmp_path / "wh"
    assert read_warehouse_table(spark, str(wh), "access") is None
    (wh / "access").mkdir(parents=True)
    (wh / "access" / "part-00000.parquet").write_bytes(b"not a parquet file")
    assert read_warehouse_table(spark, str(wh), "access") is None
    (wh / "_state").write_text(json.dumps({"files": {"access": []}}))
    assert read_warehouse_table(spark, str(wh), "access") is None
    (wh / "_state").write_text(json.dumps({"files": {"access": ["part-00000.parquet"]}}))
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        read_warehouse_table(spark, str(wh), "access")
