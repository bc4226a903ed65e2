from __future__ import annotations

import os
import signal
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from realparse_spark.session import get_spark

    s = get_spark("realparse-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


# --- vanilla-gate early launch -------------------------------------------
# The all-262-query default-session sweep runs in its own subprocess (session
# configs are sticky per JVM) and takes ~2-3 min even thread-pooled.  Run
# sequentially at its alphabetical slot it EXTENDS the suite by that much;
# launched here at collection time it overlaps the several hundred other
# tests (optimization guide §2.6 applied to the suite itself) and
# test_all_queries_on_default_session merely joins it.  Only launched when
# that test is still selected after -k/-m deselection (so
# `pytest tests/test_dedup.py` or `-k 'not all_queries'` never pays for it).

_VANILLA_PROC = {}


@pytest.hookimpl(trylast=True)  # after pytest's own -k/-m deselection
def pytest_collection_modifyitems(config, items):
    if any(i.name == "test_all_queries_on_default_session" for i in items):
        import subprocess
        import tempfile

        from tests.vanilla_gate import SCRIPT

        # file-backed stdio, NOT pipes: nothing drains the streams until
        # the joining test runs, and a filled 64 KB pipe would deadlock
        # the subprocess mid-suite
        out = tempfile.NamedTemporaryFile(
            mode="w+", prefix="vanilla_gate_out_", suffix=".log", delete=False
        )
        err = tempfile.NamedTemporaryFile(
            mode="w+", prefix="vanilla_gate_err_", suffix=".log", delete=False
        )
        proc = subprocess.Popen(
            [sys.executable, "-c", SCRIPT],
            stdout=out,
            stderr=err,
            text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            start_new_session=True,  # own process group: the JVM dies with it
        )
        _VANILLA_PROC.update(proc=proc, out=out, err=err)


def pytest_sessionfinish(session, exitstatus):
    """Kill a gate that nothing joined (the joining test failed to run, or
    the session stopped early) and remove its temp logs."""
    proc = _VANILLA_PROC.pop("proc", None)
    if proc is None:
        return
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    for key in ("out", "err"):
        fh = _VANILLA_PROC.pop(key)
        fh.close()
        os.unlink(fh.name)


@pytest.fixture(scope="session")
def vanilla_gate_proc():
    assert _VANILLA_PROC.get("proc") is not None, (
        "collection hook did not launch the vanilla gate"
    )
    return _VANILLA_PROC
