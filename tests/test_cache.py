"""Snapshot-cache install protocol: one build per key, across threads and
processes."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

from realparse_spark import cache


@pytest.fixture()
def memo():
    """A snapshot memo whose installed snapshots are removed afterwards."""
    installed: dict[tuple, str] = {}
    yield installed
    for path in installed.values():
        shutil.rmtree(path, ignore_errors=True)


def _write_table(tmp: str) -> None:
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-0"), "w") as fh:
        fh.write("x")


def test_same_key_builders_serialize(tmp_path, memo):
    """Eight threads (more than the cores) asking for one key, switching
    often: one build runs, never two at once."""
    key = (str(tmp_path), "shared")
    active = builds = peak = 0
    guard = threading.Lock()

    def build(tmp: str) -> None:
        nonlocal active, builds, peak
        with guard:
            active += 1
            builds += 1
            peak = max(peak, active)
        time.sleep(0.1)
        _write_table(tmp)
        with guard:
            active -= 1

    got = []
    threads = [
        threading.Thread(
            target=lambda: got.append(
                cache.snapshot_path(memo, key, "realparse_test_locks_", build)
            )
        )
        for _ in range(8)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert builds == 1 and peak == 1
    assert len(got) == 8 and len(set(got)) == 1


_BUILDER = """
import os, sys, time
from realparse_spark import cache

log, key = sys.argv[1], tuple(sys.argv[2:])

def build(tmp):
    with open(log, "a") as fh:
        fh.write(f"{os.getpid()}\\n")
    time.sleep(1.0)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-0"), "w") as fh:
        fh.write("x")

print(cache.snapshot_path({}, key, "realparse_test_locks_", build))
"""


def test_same_key_builders_serialize_across_processes(tmp_path):
    """Two processes asking for one key at once: one builds, the other
    waits for it and uses its snapshot."""
    log = tmp_path / "builds"
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _BUILDER, str(log), str(tmp_path), "shared"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            stdout=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    outs = {p.communicate(timeout=60)[0].strip() for p in procs}
    try:
        assert [p.returncode for p in procs] == [0, 0]
        assert len(log.read_text().split()) == 1
        assert len(outs) == 1
        # the table sits below its lease root, which holds the marker
        out = next(iter(outs))
        assert os.listdir(out) == ["part-0"]
        assert os.path.isfile(os.path.join(os.path.dirname(out), "_SUCCESS"))
    finally:
        for path in outs:
            shutil.rmtree(os.path.dirname(path), ignore_errors=True)
