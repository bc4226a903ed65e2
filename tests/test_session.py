"""The session keeps the code it generates: a query served again compiles
no Java."""

from __future__ import annotations

from realparse_spark.registry import all_queries

# the curation mix: one pass needs ~160 generated classes, more than
# Spark's default 100-entry codegen cache holds
CURATION_MIX = (
    "dedup_exact",
    "quality_filter_report",
    "dedup_minhash_e2e",
    "text_quality",
    "sim_ann_lsh_batch",
    "curation_pipeline_e2e",
)


def test_repeated_curation_mix_compiles_nothing(spark, sf_dir):
    """Run the mix twice: the second pass finds every class it needs in
    the codegen cache (an LRU, so earlier tests' classes make no
    difference while the cap is far above the mix's working set)."""
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    queries = all_queries()

    def mix_pass() -> int:
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        for name in CURATION_MIX:
            queries[name](spark, sf_dir).collect()
        return compiles.METRIC_COMPILATION_TIME().getCount() - before

    mix_pass()
    assert mix_pass() == 0
