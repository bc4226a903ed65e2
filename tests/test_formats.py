"""Round-trip fidelity for every supported sink/source format, plus the
scan-quality property that justifies the columnar defaults (pushdown
reaches ORC scans too, not just parquet)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realparse_spark.plans import explain as X
from realparse_spark.sources.formats import FORMATS, read_table, write_table
from realparse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


@pytest.mark.parametrize("fmt", FORMATS)
def test_roundtrip_preserves_rows(spark, tmp_path, fmt):
    src = load_table(spark, SF, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = str(tmp_path / f"t_{fmt}")
    write_table(src, path, fmt)
    back = read_table(spark, path, fmt, schema=src.schema)
    cols = src.columns
    assert back.schema == src.schema
    assert _sorted_rows(back, cols) == _sorted_rows(src, cols)


def test_json_csv_require_schema(spark, tmp_path):
    src = load_table(spark, SF, "region")
    for fmt in ("json", "csv"):
        path = str(tmp_path / f"s_{fmt}")
        write_table(src, path, fmt)
        with pytest.raises(ValueError, match="explicit schema"):
            read_table(spark, path, fmt)
        # opt-in inference still round-trips the values
        inferred = read_table(spark, path, fmt, infer=True)
        assert inferred.count() == src.count()


def test_orc_scan_gets_pushdown(spark, tmp_path):
    src = load_table(spark, SF, "customer")
    path = str(tmp_path / "orc_push")
    write_table(src, path, "orc")
    df = read_table(spark, path, "orc").filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    assert X.has_pushed_filter(df, "c_mktsegment")
    # column pruning: the ORC scan must read only the two referenced cols
    schemas = X.read_schemas(df)
    assert any("c_custkey" in s and "c_name" not in s for s in schemas)


def test_partitioned_write_prunes(spark, tmp_path):
    src = load_table(spark, SF, "customer")
    path = str(tmp_path / "part")
    write_table(src, path, "parquet", partition_by=("c_mktsegment",))
    df = read_table(spark, path, "parquet").filter(F.col("c_mktsegment") == "BUILDING")
    plan = X.executed_plan(df)
    # partition filter must appear as a partition filter, not a data filter
    assert "PartitionFilters" in plan
    got = df.count()
    want = src.filter(F.col("c_mktsegment") == "BUILDING").count()
    assert got == want


def test_schema_evolution_merge_read(spark, tmp_path):
    """A table whose later partitions gained a column must read as one
    DataFrame under mergeSchema, with NULLs backfilled for early rows —
    the schema-evolution story a long-lived 100 TB warehouse depends on
    (new extraction fields appear mid-history; old files are never
    rewritten)."""
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v1.write.mode("append").parquet(path)
    v2 = spark.createDataFrame(
        [(3, "c", 0.5)], "id long, name string, score double"
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}
    # filters on the evolved column still push down to the scan
    assert merged.filter(F.col("score") > 0.1).count() == 1


def test_csv_quarantine_routes_every_line_exactly_once(spark, tmp_path):
    """Quarantine routing invariants on planted dirt: bad-numeric and
    wrong-arity lines land in `bad` with the verbatim line preserved
    and their parseable fields still typed; clean lines land in `good`;
    nothing is dropped or double-routed."""
    from realparse_spark.sources.formats import read_csv_quarantine

    lines = [
        "1,alpha,10",
        "2,beta,xx",        # bad numeric
        "3,gamma,30",
        "4,delta",          # wrong arity (missing field)
        "5,eps,50",
    ]
    p = tmp_path / "zone"
    p.mkdir()
    (p / "part-0.csv").write_text("\n".join(lines) + "\n")
    good, bad = read_csv_quarantine(
        spark, str(p), "id long, name string, n long"
    )
    g = {r.id: r for r in good.collect()}
    b = {r.id: r for r in bad.collect()}
    assert set(g) == {1, 3, 5}
    assert set(b) == {2, 4}
    assert g[3].n == 30
    assert b[2].name == "beta" and b[2].n is None  # good fields survive
    assert b[2]._corrupt_record == "2,beta,xx"     # verbatim evidence
    assert b[4]._corrupt_record == "4,delta"
    assert len(g) + len(b) == len(lines)


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    """`load_table` infers a file's schema on the first read only; a later
    read runs no Spark job, and a file rewritten in place is read with its
    new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    path = os.path.join(d, "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    assert load_table(spark, d, "documents").columns == ["doc_id", "text"]

    sc = spark.sparkContext
    sc.setJobGroup("load-table-schema", "load-table-schema")
    try:
        assert load_table(spark, d, "documents").columns == ["doc_id", "text"]
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("load-table-schema")) == 0

    pq.write_table(pa.table({"doc_id": [3], "text": ["c"], "source": ["web"]}), path)
    df = load_table(spark, d, "documents")
    assert df.columns == ["doc_id", "text", "source"]
    assert [tuple(r) for r in df.collect()] == [(3, "c", "web")]

    # two tables of one directory whose fingerprints agree (same size and
    # mtime) still keep their own schemas
    for name, col in (("region", "r_key"), ("nation", "n_key")):
        pq.write_table(pa.table({col: [1]}), os.path.join(d, f"{name}.parquet"))
        os.utime(os.path.join(d, f"{name}.parquet"), ns=(0, 0))
    assert load_table(spark, d, "region").columns == ["r_key"]
    assert load_table(spark, d, "nation").columns == ["n_key"]
