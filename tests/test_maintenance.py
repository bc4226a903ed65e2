"""Quarantine + compaction maintenance tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from realparse_spark.operators.compact import compact_table, table_file_stats
from realparse_spark.operators.load import load_style5, read_warehouse_table
from tests.test_load_pipeline import style5_line


def test_malformed_lines_quarantined(spark, tmp_path):
    d = tmp_path / "qlogs"
    d.mkdir()
    good = style5_line("10.0.0.1", "12/Oct/2002:09:00:00", "/m/ok.rm")
    (d / "rmaccess.log.1").write_text(
        "\n".join(
            [
                good,
                "totally garbage line with no timestamp",
                '10.0.0.2 - - [NOT/A/DATE:xx:yy:zz -0800] "GET /m/bad.rm RTSP/1.0" 200 1 [] [] 1 2 3 4 5 6',
            ]
        )
        + "\n"
    )
    wh = str(tmp_path / "qwh")
    counts = load_style5(spark, str(d), wh)
    assert counts["access"] == 1
    assert counts["quarantine"] == 2
    q = read_warehouse_table(spark, wh, "quarantine")
    assert q.count() == 2
    assert q.filter(F.col("value").contains("garbage")).count() == 1
    # re-run: same files re-read -> quarantine grows (no watermark for bad
    # rows by design: triage table, dedupe on ingestion into tooling)
    load_style5(spark, str(d), wh)
    assert read_warehouse_table(spark, wh, "access").count() == 1


def test_compact_table(spark, sf_dir, tmp_path):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "frag")
    # simulate many tiny appends
    for i in range(6):
        events.limit(100).write.mode("append").parquet(path)
    before_n = spark.read.parquet(path).count()
    b, a = compact_table(spark, path, target_file_bytes=10**9)
    assert b > a == 1
    assert spark.read.parquet(path).count() == before_n
    assert table_file_stats(spark, path)[0] == 1


def test_compact_partitioned_splits_hot_partition(spark, tmp_path):
    """A hot partition value must compact into multiple ~target files
    (salted by its listed bytes), not one giant single-task file; a cold
    one stays at a single file; row contents survive exactly."""
    import glob

    path = str(tmp_path / "skewed")
    df = spark.range(0, 40_000).select(
        F.lit(0).alias("k"),
        F.col("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),  # incompressible
    )
    cold = spark.range(40_000, 40_100).select(
        F.lit(1).alias("k"), F.col("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    for chunk in range(4):  # fragmented appends
        df.filter(F.col("id") % 4 == chunk).write.mode("append").partitionBy("k").parquet(path)
    cold.write.mode("append").partitionBy("k").parquet(path)

    hot_bytes = sum(
        len(open(f, "rb").read()) for f in glob.glob(f"{path}/k=0/*.parquet")
    )
    target = hot_bytes // 4  # expect ~4 files for the hot partition
    before_rows = spark.read.parquet(path).count()
    compact_table(spark, path, target_file_bytes=target, partition_by=["k"])

    hot_files = glob.glob(f"{path}/k=0/*.parquet")
    cold_files = glob.glob(f"{path}/k=1/*.parquet")
    assert len(cold_files) == 1, cold_files
    assert 3 <= len(hot_files) <= 6, hot_files  # ceil(bytes/target)=4, hash jitter
    # no straggler file anywhere near the whole-partition size
    assert max(os.path.getsize(f) for f in hot_files) < 0.6 * hot_bytes
    assert spark.read.parquet(path).count() == before_rows


def test_compact_access_keeps_key_reservation(spark, tmp_path):
    """Compacting the loader's access table (partition layout kept) carries
    its `_max_key` reservation over, so the next load's surrogate keys stay
    disjoint from the compacted rows."""
    d = tmp_path / "clogs"
    d.mkdir()
    (d / "rmaccess.log.1").write_text(
        "\n".join(
            style5_line(f"10.0.0.{i}", f"12/Oct/2002:09:0{i}:00", f"/m/c{i}.rm") for i in range(3)
        )
        + "\n"
    )
    wh = str(tmp_path / "cwh")
    load_style5(spark, str(d), wh)
    access_path = os.path.join(wh, "access")
    compact_table(spark, access_path, partition_by=["server_type", "access_date"])
    assert os.path.exists(os.path.join(access_path, "_max_key"))

    (d / "rmaccess.log.2").write_text(style5_line("10.0.0.9", "13/Oct/2002:09:00:00", "/m/n.rm") + "\n")
    assert load_style5(spark, str(d), wh)["access"] == 1
    ids = [r.access_id for r in read_warehouse_table(spark, wh, "access").select("access_id").collect()]
    assert len(ids) == len(set(ids)) == 4
