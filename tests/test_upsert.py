"""Upsert (MERGE emulation) + compressed-log ingestion tests."""

from __future__ import annotations

import gzip
import os
import re

import pytest
from pyspark.sql import functions as F

from realparse_spark.operators.upsert import upsert_parquet
from tests.test_load_pipeline import style5_line


def test_upsert_latest_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k long, v string, ver long"
    )
    assert upsert_parquet(spark, first, path, ["k"], "ver") == 2

    second = spark.createDataFrame(
        [(2, "b2", 20), (3, "c", 20)], "k long, v string, ver long"
    )
    assert upsert_parquet(spark, second, path, ["k"], "ver") == 3
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 20), 3: ("c", 20)}

    # stale replay (older version) must NOT clobber
    stale = spark.createDataFrame([(2, "bOLD", 5)], "k long, v string, ver long")
    assert upsert_parquet(spark, stale, path, ["k"], "ver") == 3
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got[2] == "b2"


def _file_snapshot(path: str) -> dict[str, tuple[int, bytes]]:
    """data-file -> (size, content digest) for every parquet file under path."""
    import hashlib

    snap = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    snap[os.path.relpath(p, path)] = (
                        os.path.getsize(p),
                        hashlib.md5(fh.read()).digest(),
                    )
    return snap


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB property: a merge batch reads+rewrites only the bucket
    partitions its keys hash into; every other bucket's data files stay
    BYTE-identical (same paths, sizes, contents) — the table is never
    restated per batch."""
    path = str(tmp_path / "bucketed")
    first = spark.range(200).select(
        F.col("id").alias("k"), F.lit("v0").alias("v"), F.lit(1).cast("long").alias("ver")
    )
    assert upsert_parquet(spark, first, path, ["k"], "ver", n_buckets=8) == 200
    before = _file_snapshot(path)
    buckets_before = {p.split(os.sep)[0] for p in before}
    assert len(buckets_before) > 4  # keys actually spread over buckets

    batch = spark.createDataFrame([(5, "v1", 2)], "k long, v string, ver long")
    assert upsert_parquet(spark, batch, path, ["k"], "ver") == 200
    after = _file_snapshot(path)

    changed_dirs = {
        p.split(os.sep)[0]
        for p in set(before) ^ set(after) | {p for p in before if p in after and before[p] != after[p]}
    }
    assert len(changed_dirs) == 1, changed_dirs  # exactly the bucket of k=5
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(path).collect()}
    assert got[5] == ("v1", 2) and got[6] == ("v0", 1)


def test_upsert_refuses_unbucketed_table(spark, tmp_path):
    """A plain parquet table (no `_upsert_meta.json` sidecar) was not
    written by upsert_parquet; merging into it is refused with an error
    naming the path, and the table is left untouched."""
    path = str(tmp_path / "plain")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k long, v string, ver long"
    ).write.parquet(path)
    before = _file_snapshot(path)

    batch = spark.createDataFrame([(2, "b2", 20)], "k long, v string, ver long")
    with pytest.raises(ValueError, match=re.escape(f"{path} is not a bucketed upsert table")):
        upsert_parquet(spark, batch, path, ["k"], "ver")
    assert _file_snapshot(path) == before


def test_gzip_log_ingestion(spark, tmp_path):
    """Rotated logs arrive gzipped in practice; spark.read.text handles
    .gz transparently, so the whole load pipeline works unchanged."""
    from realparse_spark.operators.load import load_style5, read_warehouse_table

    d = tmp_path / "gzlogs"
    d.mkdir()
    line = style5_line("10.0.0.1", "12/Oct/2002:09:00:00", "/m/zipped.rm")
    with gzip.open(d / "rmaccess.log.1.gz", "wt") as fh:
        fh.write(line + "\n")
    wh = str(tmp_path / "gzwh")
    counts = load_style5(spark, str(d), wh)
    assert counts["access"] == 1
    assert read_warehouse_table(spark, wh, "file").collect()[0].name == "zipped.rm"
