"""Differential tests: every declared query must match its DuckDB oracle at
sf0.01 — the same check the driver runs (CORRECTNESS gate)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_ORACLE
from tests.oracle_harness import compare_query


def _pairs():
    from realparse_spark.registry import all_oracles, all_queries

    q = all_queries()
    o = all_oracles()
    return [(name, q[name], o[name]) for name in sorted(q) if name in o]


_PAIRS = _pairs()


@pytest.mark.parametrize("name,fn,sql", _PAIRS, ids=[p[0] for p in _PAIRS])
def test_query_matches_oracle(spark, duck, name, fn, sql):
    ok, detail = compare_query(spark, duck, fn, sql, SF_DIR_ORACLE)
    assert ok, f"{name}: {detail}"


def test_all_queries_have_oracle_or_reason():
    from realparse_spark.registry import all_oracles, all_queries

    q = all_queries()
    o = all_oracles()
    missing = sorted(set(q) - set(o))
    # rows-only checks must be intentional; keep the allowlist here
    allowed_rows_only = {
        # dedup_minhash_lsh, dedup_minhash_e2e and dedup_incremental_minhash
        # hash with xxhash64; they run the same signature projection and
        # _band_join as the oracled dedup_minhash_portable row, and
        # test_dedup pins equal _band_join pairs for xxhash64 and raw band
        # keys, the batch ≡ incremental cross-split pairs and the e2e
        # planted-dup partition/canonical gates
        "dedup_minhash_lsh",
        "dedup_minhash_e2e",
        "dedup_incremental_minhash",
        "dedup_simhash",  # xxhash64 votes; the oracled dedup_simhash_portable
        # runs the same vote builder and pigeonhole join
        # sim_ann_lsh, sim_ann_lsh_batch and retrieval_eval_ann reach the
        # index only through lsh_probe_batch, which test_similarity ties to
        # the full-scan ann_lsh_topk (row parity) and to the exact
        # topk_cosine (recall@k and exact scores)
        "sim_ann_lsh",
        "sim_ann_lsh_batch",
        "retrieval_eval_ann",  # ANN probe in the retrieval seat; metric
        # arithmetic hash-verified via retrieval_eval's oracle (shared
        # _retrieval_metrics rollup); bounds/consistency gates in
        # test_similarity
        "approx_distinct",
        "approx_distinct_merge",  # HLL blob merge; error gate vs exact in tests
        "approx_topk_users",  # frequent-items sketch; exact-match gate in tests
        "approx_audience_overlap",  # theta set algebra; exact-match gate in tests
        "approx_quantiles",
        "dedup_phash",  # DCT hash not SQL-reproducible; kernel-parity +
        # recall/precision/determinism gates in test_multimodal
        "bpe_train",  # iterative driver loop; pure-Python BPE parity
        # gate in test_spans
        "bpe_apply",  # rides the trained artifact; pure-Python
        # segmentation parity gate in test_spans
    }
    assert set(missing) <= allowed_rows_only, f"queries without oracle: {missing}"
