"""The one write protocol (fs.LOCAL.lease, in-place writes, one `_state`
publish) under the faults a cron loader meets: a reader during a commit or
a compaction, a crash between appends or before the publish, a first cycle
that dies, a warehouse and an upsert table written before `_state` listed
files, two overlapping loads, and a compaction beside a load.  Each ends
in the state of a clean load: its counts, `file`/`client`/`network`
holding exactly `access`'s ids, and its report rows.  Beside them: a
compaction of a table that other jobs append to, a reader during a merge,
and the tables a cycle lists."""

from __future__ import annotations

import ast
import json
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from realparse_spark.fs import LOCAL, read_committed
from realparse_spark.operators import compact as C
from realparse_spark.operators import load as L
from realparse_spark.operators.compact import compact_table
from realparse_spark.operators.load import (
    ACCESS_TABLES,
    load_style5,
    load_weblog,
    read_warehouse_table,
)
from realparse_spark.operators.log_report import pull_report
from realparse_spark.operators.upsert import upsert_parquet
from tests.test_load_pipeline import (
    STATS_FULL,
    listed_files,
    load_state,
    no_rows,
    parquet_on_disk,
    style5_line,
    web_line,
)

# the methods perfbench's CallCounter counts: every LocalFS call a writer makes
FS_METHODS = ("exists", "is_dir", "list_dir", "makedirs", "rename",
              "rmtree", "data_files", "read_text", "write_text")

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "realparse_spark")


def _rotation(logs, day: int, n: int) -> None:
    (logs / f"rmaccess.log.200210{day}").write_text("\n".join(
        style5_line(f"10.0.{day}.{i}", f"{day}/Oct/2002:09:{i:02d}:00", f"/media/clip{i % 3}.rm",
                    stats=STATS_FULL if i % 2 else " [Stat3: raw]")
        for i in range(n)
    ) + "\n")
    (logs / f"log.200210{day}").write_text("\n".join(
        web_line(f"{day}/Oct/2002:10:{i:02d}:00", f"/media/clip{i % 3}.wmv") for i in range(n)
    ) + "\n")


@pytest.fixture()
def logs(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    _rotation(d, 12, 6)
    _rotation(d, 13, 5)
    return d


def _hold_back(logs, tmp_path):
    """Move day 13's rotations aside; returns a callable that puts them back."""
    names = ("rmaccess.log.20021013", "log.20021013")
    for n in names:
        (logs / n).rename(tmp_path / n)
    return lambda: [(tmp_path / n).rename(logs / n) for n in names]


def _cycle(spark, logs, wh: str) -> tuple[dict, dict]:
    """One two-family cron cycle: (style-5 counts, web counts)."""
    return load_style5(spark, str(logs), wh), load_weblog(spark, str(logs), wh)


def _seen(spark, wh: str) -> tuple:
    """What a reader sees: the access ids of `access`, `file`, `client` and
    `network`, each sorted."""
    return tuple(tuple(sorted(_ids(spark, wh, t))) for t in ACCESS_TABLES[:4])


class _ReaderAtEveryCall:
    """Runs `read()` before every `LOCAL` call (not the reader's own) and
    keeps what it returns."""

    def __init__(self, monkeypatch, read):
        self.seen, self._busy = [], False
        for m in FS_METHODS:
            monkeypatch.setattr(LOCAL, m, self._wrap(getattr(LOCAL, m), read))

    def _wrap(self, fn, read):
        def call(*a, **k):
            if not self._busy:
                self._busy = True
                try:
                    self.seen.append(read())
                finally:
                    self._busy = False
            return fn(*a, **k)
        return call


def _report(spark, wh: str) -> set[tuple]:
    customers = spark.createDataFrame([(1, "Acme", "Yes")], "id long, company_name string, hosting string")
    project = spark.createDataFrame([(7, 1)], "project_id long, customer_id long")
    patterns = spark.createDataFrame([(7, "clip0%"), (7, "clip%")], "project_id long, pattern string")
    access, file = read_warehouse_table(spark, wh, "access"), read_warehouse_table(spark, wh, "file")
    return {tuple(r) for r in pull_report(access, file, customers, project, patterns).collect()}


def _ids(spark, wh: str, table: str) -> list[int]:
    df = read_warehouse_table(spark, wh, table)
    return [] if df is None else [r.access_id for r in df.select("access_id").collect()]


def _assert_like_clean(spark, wh: str, clean_wh: str) -> None:
    """`wh` holds what the clean warehouse `clean_wh` holds: the same rows
    per table, unique access ids that the one-per-line tables hold exactly
    (`network` those of the style-5 rows), the same report, and no data
    file that `_state` does not list."""
    access = read_warehouse_table(spark, wh, "access")
    ids = [r.access_id for r in access.collect()]
    real = [r.access_id for r in access.filter("server_type = 1").collect()]
    assert len(ids) == len(set(ids)) == len(_ids(spark, clean_wh, "access"))
    for t in ACCESS_TABLES[1:]:
        child = _ids(spark, wh, t)
        assert len(child) == len(_ids(spark, clean_wh, t)), t
        if t in ("file", "client", "network"):
            assert sorted(child) == sorted(real if t == "network" else ids), t
    assert _report(spark, wh) == _report(spark, clean_wh)
    assert listed_files(wh) == parquet_on_disk(wh)


def test_crash_between_appends_publishes_nothing(spark, logs, tmp_path, monkeypatch):
    """A cycle that dies after its `access` append publishes nothing —
    neither rows nor a new `_state` — so the re-run loads every line of
    the cycle."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    (logs / "rmaccess.log.20021013").rename(tmp_path / "later")
    load_style5(spark, str(logs), clean_wh)
    load_style5(spark, str(logs), wh)
    (tmp_path / "later").rename(logs / "rmaccess.log.20021013")
    clean = load_style5(spark, str(logs), clean_wh)
    state, rows = LOCAL.read_text(os.path.join(wh, "_state")), _ids(spark, wh, "access")
    real_append = L._append

    def crash_at_file(df, root, name):
        if name == "file":
            raise RuntimeError("simulated crash at the file append")
        return real_append(df, root, name)

    monkeypatch.setattr(L, "_append", crash_at_file)
    with pytest.raises(RuntimeError, match="simulated crash"):
        load_style5(spark, str(logs), wh)
    monkeypatch.undo()
    assert sorted(_ids(spark, wh, "access")) == sorted(rows)
    assert LOCAL.read_text(os.path.join(wh, "_state")) == state

    assert load_style5(spark, str(logs), wh) == clean
    _assert_like_clean(spark, wh, clean_wh)


def test_reader_sees_whole_cycles(spark, logs, tmp_path, monkeypatch):
    """A reader that runs at every `LOCAL` call of a two-family cycle sees
    the warehouse as the last cycle left it, after the style-5 commit or
    after the web commit: one commit or the next, never part of one."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    restore = _hold_back(logs, tmp_path)
    _cycle(spark, logs, clean_wh)
    _cycle(spark, logs, wh)
    restore()
    commits = [_seen(spark, clean_wh)]
    clean = load_style5(spark, str(logs), clean_wh)
    commits.append(_seen(spark, clean_wh))
    clean = clean, load_weblog(spark, str(logs), clean_wh)
    commits.append(_seen(spark, clean_wh))

    reader = _ReaderAtEveryCall(monkeypatch, lambda: _seen(spark, wh))
    assert _cycle(spark, logs, wh) == clean
    monkeypatch.undo()
    # the last call of the cycle is its web publish: after it, no call runs
    assert set(reader.seen) == set(commits[:2])
    _assert_like_clean(spark, wh, clean_wh)


def test_reader_sees_every_row_during_compaction(spark, logs, tmp_path, monkeypatch):
    """A reader that runs at every `LOCAL` call of a compaction of `access`
    sees every row: the compaction lists its rewrite before it deletes the
    files it replaced, and never leaves the table empty in between."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    restore = _hold_back(logs, tmp_path)
    _cycle(spark, logs, clean_wh)
    _cycle(spark, logs, wh)
    want = _seen(spark, wh)

    reader = _ReaderAtEveryCall(monkeypatch, lambda: _seen(spark, wh))
    compact_table(spark, os.path.join(wh, "access"), partition_by=["server_type", "access_date"])
    monkeypatch.undo()
    assert reader.seen and set(reader.seen) == {want}

    restore()
    assert _cycle(spark, logs, wh) == _cycle(spark, logs, clean_wh)
    _assert_like_clean(spark, wh, clean_wh)


def test_cycle_that_dies_before_its_publish(spark, logs, tmp_path, monkeypatch):
    """A cycle that dies after its appends, at its one rename (the `_state`
    publish), leaves its files in the tables, where no reader sees them;
    the next cycle's lease deletes them and loads the same lines.  So it
    does with a dead Spark job's committed task output under `_temporary`,
    which the next append's job commit would otherwise move into the
    table."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    restore = _hold_back(logs, tmp_path)
    _cycle(spark, logs, clean_wh)
    _cycle(spark, logs, wh)
    restore()
    clean = _cycle(spark, logs, clean_wh)
    old = _seen(spark, wh)

    def rename(src, dst):
        raise RuntimeError("simulated crash at the publish")

    monkeypatch.setattr(LOCAL, "rename", rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        load_style5(spark, str(logs), wh)
    monkeypatch.undo()
    assert _seen(spark, wh) == old
    listed, on_disk = listed_files(wh), parquet_on_disk(wh)
    orphans = {(t, f) for t, files in on_disk.items() for f in files if f not in listed.get(t, [])}
    assert {t for t, _f in orphans} == set(ACCESS_TABLES)
    rel = next(f for t, f in sorted(orphans) if t == "access")
    task = os.path.join(wh, "access", "_temporary", "0", "task_200210130000_0001_m_000000", rel)
    os.makedirs(os.path.dirname(task))
    shutil.copy(os.path.join(wh, "access", rel), task)

    assert _cycle(spark, logs, wh) == clean
    assert not LOCAL.exists(task)
    assert not orphans & {(t, f) for t, files in parquet_on_disk(wh).items() for f in files}
    _assert_like_clean(spark, wh, clean_wh)


def test_first_cycle_that_dies(spark, logs, tmp_path, monkeypatch):
    """The first cycle of an empty warehouse dies after its `access` append:
    `_state` was published (empty) before any write, so the files it left
    are orphans, not rows of a warehouse with unknown progress, and the next
    cycle loads as a clean one would."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    clean = _cycle(spark, logs, clean_wh)
    real_append = L._append

    def crash_at_file(df, root, name):
        if name == "file":
            raise RuntimeError("simulated crash at the file append")
        return real_append(df, root, name)

    monkeypatch.setattr(L, "_append", crash_at_file)
    with pytest.raises(RuntimeError, match="simulated crash"):
        load_style5(spark, str(logs), wh)
    monkeypatch.undo()
    assert read_warehouse_table(spark, wh, "access") is None
    assert parquet_on_disk(wh)["access"] and not listed_files(wh).get("access")

    assert _cycle(spark, logs, wh) == clean
    _assert_like_clean(spark, wh, clean_wh)


def test_files_written_before_the_lists_are_kept(spark, logs, tmp_path):
    """A `_state` with no file lists (written before they were kept) is
    migrated by the next cycle's one listing under the lease: no data file
    is deleted.  The same holds for an upsert table with no list."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    restore = _hold_back(logs, tmp_path)
    _cycle(spark, logs, clean_wh)
    _cycle(spark, logs, wh)
    state = load_state(wh)
    del state["files"]
    LOCAL.write_text(os.path.join(wh, "_state"), json.dumps(state))
    before = parquet_on_disk(wh)
    restore()
    assert _cycle(spark, logs, wh) == _cycle(spark, logs, clean_wh)
    listed = listed_files(wh)
    assert all(set(files) <= set(listed[t]) for t, files in before.items())
    _assert_like_clean(spark, wh, clean_wh)

    root = tmp_path / "upsert"
    path = str(root / "t")
    rows = spark.createDataFrame([(k, "v0", 1) for k in range(40)], "k long, v string, ver long")
    assert upsert_parquet(spark, rows, path, ["k"], "ver", n_buckets=4) == 40
    os.remove(root / "_state")
    before = parquet_on_disk(str(root))["t"]
    batch = spark.createDataFrame([(5, "v1", 2), (40, "v1", 2)], "k long, v string, ver long")
    assert upsert_parquet(spark, batch, path, ["k"], "ver") == 41
    after = parquet_on_disk(str(root))["t"]
    # only the batch's (at most two) buckets were rewritten
    assert len({f.split(os.sep)[0] for f in set(before) ^ set(after)}) <= 2
    assert json.loads((root / "_state").read_text())["files"]["t"] == after
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert len(got) == 41 and got[5] == got[40] == "v1" and got[6] == "v0"


def test_compaction_keeps_rows_other_jobs_append(spark, tmp_path):
    """A table that jobs outside the protocol append to, here beside a load
    warehouse's tables: each compaction keeps every file it did not
    rewrite, so rows appended between two compactions survive, and it
    reads no file of a task attempt that a dead job left under
    `_temporary` (Spark's reader skips it too).  `_state` never lists it."""
    LOCAL.write_text(str(tmp_path / "_state"), json.dumps({"max_key": 9, "watermark": {}, "files": {}}))
    path = str(tmp_path / "events")
    rows = spark.range(0, 300).selectExpr("id", "id % 7 AS k")
    rows.repartition(6).write.parquet(path)
    assert compact_table(spark, path, target_file_bytes=1 << 30) == (6, 1)
    spark.range(300, 500).selectExpr("id", "id % 7 AS k").repartition(4).write.mode("append").parquet(path)
    attempt = tmp_path / "events" / "_temporary" / "0" / "_temporary" / "attempt_0" / "part-00000-x.parquet"
    attempt.parent.mkdir(parents=True)
    attempt.write_bytes(b"half a file")
    assert compact_table(spark, path, target_file_bytes=1 << 30) == (5, 1)
    got = spark.read.parquet(path)
    assert got.count() == 500 and got.select("id").distinct().count() == 500
    assert load_state(str(tmp_path)) == {"max_key": 9, "watermark": {}, "files": {}}


def test_reader_sees_whole_merges(spark, tmp_path, monkeypatch):
    """A reader through `read_committed` that runs at every `LOCAL` call of
    an upsert sees the table before the merge or after it: one row per key,
    never both versions of a touched bucket."""
    root = tmp_path / "upsert"
    path = str(root / "t")
    rows = spark.createDataFrame([(k, "v0", 1) for k in range(40)], "k long, v string, ver long")
    upsert_parquet(spark, rows, path, ["k"], "ver", n_buckets=4)

    def seen():
        df = read_committed(spark, str(root), "t")
        return tuple(sorted((r.k, r.v) for r in df.collect()))

    before = seen()
    batch = spark.createDataFrame([(5, "v1", 2), (40, "v1", 2)], "k long, v string, ver long")
    reader = _ReaderAtEveryCall(monkeypatch, seen)
    assert upsert_parquet(spark, batch, path, ["k"], "ver") == 41
    monkeypatch.undo()
    after = seen()
    assert len(after) == 41 and dict(after)[5] == "v1"
    assert reader.seen and set(reader.seen) <= {before, after}


def test_cycle_walks_only_its_tables(spark, logs, tmp_path, monkeypatch):
    """A cycle lists only the tables it writes: a web cycle never walks
    `network` or the stats tables, nor anything else in the warehouse."""
    wh = str(tmp_path / "wh")
    _cycle(spark, logs, wh)
    walked, real = [], LOCAL.data_files

    def data_files(*paths):
        walked.extend(paths)
        return real(*paths)

    monkeypatch.setattr(LOCAL, "data_files", data_files)
    load_weblog(spark, str(logs), wh)
    monkeypatch.undo()
    assert walked and {os.path.relpath(p, wh) for p in walked} == {*ACCESS_TABLES[:3], "quarantine", "components"}


def test_two_concurrent_loads(spark, logs, tmp_path):
    """Two loads of one warehouse at once: one loads the cycle, the other
    waits for the lease and then finds nothing new (LOCK TABLES)."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    clean = load_style5(spark, str(logs), clean_wh)
    with ThreadPoolExecutor(2) as pool:
        runs = [pool.submit(load_style5, spark, str(logs), wh) for _ in range(2)]
        counts = sorted((r.result(timeout=600) for r in runs), key=lambda c: c["access"])
    assert counts == [no_rows(ACCESS_TABLES), clean]
    _assert_like_clean(spark, wh, clean_wh)


def test_compaction_during_load(spark, logs, tmp_path, monkeypatch):
    """`compact_table` on `access` started while a load is inside its
    cycle: the compaction waits for the load's commit, so it neither drops
    the load's rows nor publishes between the load's state read and its
    commit."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    (logs / "rmaccess.log.20021013").rename(tmp_path / "later")
    load_style5(spark, str(logs), clean_wh)
    load_style5(spark, str(logs), wh)
    (tmp_path / "later").rename(logs / "rmaccess.log.20021013")
    clean = load_style5(spark, str(logs), clean_wh)

    in_cycle, appended = threading.Event(), threading.Event()
    real_state, real_append, real_leaf = L._read_state, L._append, C._leaf_partition_bytes

    def read_state(*a):
        in_cycle.set()
        return real_state(*a)

    def append(df, root, name):
        n = real_append(df, root, name)
        if name == "access":
            appended.set()
        return n

    def leaf(*a):
        # a compaction that listed `access` before the load's append and
        # published after it would drop the appended rows
        appended.wait(timeout=60)
        return real_leaf(*a)

    monkeypatch.setattr(L, "_read_state", read_state)
    monkeypatch.setattr(L, "_append", append)
    monkeypatch.setattr(C, "_leaf_partition_bytes", leaf)
    with ThreadPoolExecutor(2) as pool:
        load = pool.submit(load_style5, spark, str(logs), wh)
        assert in_cycle.wait(timeout=300)
        compaction = pool.submit(compact_table, spark, os.path.join(wh, "access"),
                                 partition_by=["server_type", "access_date"])
        assert load.result(timeout=600) == clean
        compaction.result(timeout=600)
    monkeypatch.undo()
    _assert_like_clean(spark, wh, clean_wh)


def _rename_calls(node: ast.AST, fn: str | None = None):
    """The enclosing function of each os.rename/os.replace/LOCAL.rename/
    self.rename call under `node`."""
    for child in ast.iter_child_nodes(node):
        name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
        call = child.func if isinstance(child, ast.Call) else None
        if (isinstance(call, ast.Attribute) and call.attr in ("rename", "replace")
                and isinstance(call.value, ast.Name) and call.value.id in ("os", "LOCAL", "self")):
            yield name
        yield from _rename_calls(child, name)


def test_no_rename_outside_the_write_protocol():
    """A commit is one replace of `_state`: inside fs.py only `publish`
    calls LocalFS.rename (whose body is the os.rename), and nothing else in
    the package renames -- a rename anywhere else would be a second commit
    protocol.  The one exception writes a synthetic log file for a query
    fixture."""
    found = set()
    for dirpath, _dirs, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py"):
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                found |= {(os.path.relpath(path, PACKAGE), fn) for fn in _rename_calls(tree)}
    assert found <= {("operators/load_query.py", "_write_rotation"),
                     ("fs.py", "rename"), ("fs.py", "publish")}, found
