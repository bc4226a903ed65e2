"""Snapshot-cache install protocol: per-key builder locks."""

from __future__ import annotations

import os
import shutil
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


def test_key_locks_not_kept_per_key(tmp_path, memo):
    """Building many distinct keys leaves no lock behind for each of them."""
    for i in range(5):
        key = (str(tmp_path), "distinct", i)
        path = cache.snapshot_path(memo, key, "realparse_test_locks_", _write_table)
        assert os.path.isfile(os.path.join(path, "_SUCCESS"))
    assert len(memo) == 5
    assert not any(k[:2] == (str(tmp_path), "distinct") for k in cache._KEY_LOCKS.keys())


def test_same_key_builders_serialize(tmp_path, memo):
    """Eight threads (more than the cores) asking for one key, switching
    often: one build runs, never two at once, and no lock is left behind."""
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
    assert key not in cache._KEY_LOCKS
