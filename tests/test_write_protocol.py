"""The one write protocol (fs.LOCAL.lease + commit) under the faults a cron
loader meets: a crash between appends, a crash partway through a commit,
two overlapping loads, and a compaction beside a load.  Each ends in the
state of a clean load: its counts, `file`/`client`/`network` holding
exactly `access`'s ids, and its report rows."""

from __future__ import annotations

import ast
import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from realparse_spark.fs import LOCAL
from realparse_spark.operators import compact as C
from realparse_spark.operators import load as L
from realparse_spark.operators.compact import compact_table
from realparse_spark.operators.load import ACCESS_TABLES, load_style5, read_warehouse_table
from realparse_spark.operators.log_report import pull_report
from tests.test_load_pipeline import STATS_FULL, no_rows, style5_line

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "realparse_spark")


def _rotation(logs, day: int, n: int) -> None:
    (logs / f"rmaccess.log.200210{day}").write_text("\n".join(
        style5_line(f"10.0.{day}.{i}", f"{day}/Oct/2002:09:{i:02d}:00", f"/media/clip{i % 3}.rm",
                    stats=STATS_FULL if i % 2 else " [Stat3: raw]")
        for i in range(n)
    ) + "\n")


@pytest.fixture()
def logs(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    _rotation(d, 12, 6)
    _rotation(d, 13, 5)
    return d


def _report(spark, wh: str) -> set[tuple]:
    customers = spark.createDataFrame([(1, "Acme", "Yes")], "id long, company_name string, hosting string")
    project = spark.createDataFrame([(7, 1)], "project_id long, customer_id long")
    patterns = spark.createDataFrame([(7, "clip0%"), (7, "clip%")], "project_id long, pattern string")
    access, file = read_warehouse_table(spark, wh, "access"), read_warehouse_table(spark, wh, "file")
    return {tuple(r) for r in pull_report(access, file, customers, project, patterns).collect()}


def _ids(spark, wh: str, table: str) -> list[int]:
    return [r.access_id for r in read_warehouse_table(spark, wh, table).select("access_id").collect()]


def _assert_like_clean(spark, wh: str, clean_wh: str) -> None:
    """`wh` holds what the clean warehouse `clean_wh` holds: the same rows
    per table, unique access ids that the one-per-line tables hold exactly,
    the same report, and no stage or commit record left behind."""
    ids = _ids(spark, wh, "access")
    assert len(ids) == len(set(ids)) == len(_ids(spark, clean_wh, "access"))
    for t in ACCESS_TABLES[1:]:
        child = _ids(spark, wh, t)
        assert len(child) == len(_ids(spark, clean_wh, t)), t
        if t in ("file", "client", "network"):
            assert sorted(child) == sorted(ids), t
    assert _report(spark, wh) == _report(spark, clean_wh)
    assert not LOCAL.exists(os.path.join(wh, "_stage"))
    assert not LOCAL.exists(os.path.join(wh, "_commit"))


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


def test_crash_inside_commit_is_completed_by_next_lease(spark, logs, tmp_path, monkeypatch):
    """A cycle that dies partway through its commit's renames leaves the
    record; the next holder of the warehouse lease publishes the rest."""
    clean_wh, wh = str(tmp_path / "clean"), str(tmp_path / "wh")
    load_style5(spark, str(logs), clean_wh)
    real_rename, renames = LOCAL.rename, []

    def rename(src, dst):
        renames.append(dst)
        if len(renames) == 6:  # the record, then four published files
            raise RuntimeError("simulated crash inside the commit")
        real_rename(src, dst)

    monkeypatch.setattr(LOCAL, "rename", rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        load_style5(spark, str(logs), wh)
    monkeypatch.undo()
    assert LOCAL.exists(os.path.join(wh, "_commit"))

    with LOCAL.lease(wh):
        assert not LOCAL.exists(os.path.join(wh, "_commit"))
    _assert_like_clean(spark, wh, clean_wh)
    assert load_style5(spark, str(logs), wh) == no_rows(ACCESS_TABLES)
    _assert_like_clean(spark, wh, clean_wh)


def test_commit_applies_once_when_replayed(tmp_path):
    """Each pair is "if src exists, replace dst with it": a record applied
    again after it completed, or over a missing source, changes nothing."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "table", "old"))
    with LOCAL.lease(root) as stage:
        os.makedirs(os.path.join(stage, "table", "new"))
        LOCAL.write_text(os.path.join(stage, "marker"), "1")
        pairs = [(os.path.join(stage, "table"), os.path.join(root, "table")),
                 (os.path.join(stage, "marker"), os.path.join(root, "sub", "marker"))]
        LOCAL.commit(root, pairs)
        LOCAL.write_text(os.path.join(root, "_commit"), json.dumps(pairs))
    with LOCAL.lease(root):
        pass
    assert sorted(os.listdir(root)) == ["_lease", "sub", "table"]
    assert os.listdir(os.path.join(root, "table")) == ["new"]
    assert LOCAL.read_text(os.path.join(root, "sub", "marker")) == "1"


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
    """The enclosing function of each os.rename/os.replace/LOCAL.rename call
    under `node`."""
    for child in ast.iter_child_nodes(node):
        name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
        call = child.func if isinstance(child, ast.Call) else None
        if (isinstance(call, ast.Attribute) and call.attr in ("rename", "replace")
                and isinstance(call.value, ast.Name) and call.value.id in ("os", "LOCAL")):
            yield name
        yield from _rename_calls(child, name)


def test_no_rename_outside_the_write_protocol():
    """Every warehouse and snapshot write publishes through LOCAL.commit; a
    rename anywhere else is a second, unrecorded commit protocol.  The one
    exception writes a synthetic log file for a query fixture."""
    found = set()
    for dirpath, _dirs, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and path != os.path.join(PACKAGE, "fs.py"):
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                found |= {(os.path.relpath(path, PACKAGE), fn) for fn in _rename_calls(tree)}
    assert found <= {("operators/load_query.py", "_write_rotation")}, found
