"""Quality tests for the non-SQL-expressible dedup ops: MinHash-LSH
estimates must track exact Jaccard; SimHash must find engineered
near-duplicates and skip unrelated docs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realparse_spark.operators.dedup import (
    dup_clusters,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE.replace("warm", "cold")),              # near-dup of 1
        (3, BASE),                                       # exact dup of 1
        (4, "completely different text about spark sql engines and shuffles "
            "with partitions executors and codegen stages running in the cluster"),
        (5, "yet another unrelated document mentioning parquet files arrow "
            "batches and columnar compression dictionaries for analytics"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_estimates_track_exact_jaccard(spark):
    docs = _docs(spark)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.0, df_cap=1000).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, n=3, k=32, bands=8, threshold=0.3).collect()
    }
    # the engineered near/exact dups must surface
    assert est[(1, 3)] == 1.0
    assert (1, 2) in est and (2, 3) in est
    # and estimates must be within MinHash tolerance of exact (k=32 -> ~0.18 sd)
    for pair, e in est.items():
        assert abs(e - exact.get(pair, 0.0)) < 0.35, (pair, e, exact.get(pair))
    # unrelated docs must not pair at this threshold
    assert (4, 5) not in est


def test_minhash_signature_shape(spark):
    sig = minhash_signatures(_docs(spark), n=3, k=16)
    row = sig.filter(F.col("doc_id") == 1).collect()[0]
    assert len([c for c in sig.columns if c.startswith("mh_")]) == 16
    # identical docs -> identical signatures
    row3 = sig.filter(F.col("doc_id") == 3).collect()[0]
    assert [row[f"mh_{i}"] for i in range(16)] == [row3[f"mh_{i}"] for i in range(16)]


def test_simhash_finds_near_dups(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(_docs(spark), max_hamming=10).collect()
    }
    assert pairs[(1, 3)] == 0          # exact dup -> identical signature
    assert (1, 2) in pairs             # one-word change -> small hamming
    assert (4, 5) not in pairs         # unrelated -> far apart


def test_dup_clusters_match_union_find(spark):
    """Label propagation must produce exactly the components a reference
    union-find does — chains (diameter > 1), a triangle, isolated pairs."""
    pairs = [
        (1, 2), (2, 3), (3, 4), (4, 5),      # chain: min label walks 4 hops
        (10, 11), (11, 12), (10, 12),        # triangle
        (20, 21),                            # isolated pair
        (31, 30),                            # reversed order pair
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    want = {}
    for v in list(parent):
        want.setdefault(find(v), set()).add(v)
    expected = {min(c): frozenset(c) for c in want.values()}

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    # both strategies must agree with the reference: the single-task
    # union-find (small graphs) AND the distributed min-label iteration
    # (forced via local_threshold=0)
    for threshold in (10**6, 0):
        got: dict[int, set[int]] = {}
        for r in dup_clusters(df, local_threshold=threshold).collect():
            got.setdefault(r.cluster_id, set()).add(r.doc_id)
        assert {k: frozenset(v) for k, v in got.items()} == expected, threshold


def test_ngram_cap_binding_pins_subcap_jaccard(spark):
    """ADVICE pin: when df_cap binds, Jaccard is computed over sub-cap
    shingles only (boilerplate grams excluded from candidates AND scores);
    with a non-binding cap the score is the exact full-set Jaccard."""
    docs = spark.createDataFrame(
        [(1, "common alpha beta"), (2, "common alpha gamma"), (3, "common delta eps")],
        "doc_id long, text string",
    )
    # cap binds: 'common' (df=3 > 2) is dropped -> J(1,2) = |{alpha}| / |{alpha,beta,gamma}|
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=1, threshold=0.1, df_cap=2).collect()
    }
    assert capped == {(1, 2): 0.333333}
    # cap does not bind: exact full-set Jaccard, 'common' counts
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=1, threshold=0.1, df_cap=1000).collect()
    }
    assert full[(1, 2)] == 0.5
    assert full[(1, 3)] == full[(2, 3)] == 0.2


def test_dup_clusters_raises_on_nonconvergence(spark):
    """ADVICE fix: the iterative path must fail loudly (not return
    partially-propagated labels) when the component diameter exceeds
    max_iter rounds."""
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        # local_threshold=0 forces the distributed iterative path
        dup_clusters(chain, max_iter=2, local_threshold=0).collect()
    # and with enough rounds the same graph converges to one component
    ok = dup_clusters(chain, max_iter=25, local_threshold=0)
    assert ok.select("cluster_id").distinct().count() == 1


def test_minhash_lsh_hot_bucket_cap(spark):
    """Skew guard: an adversarial corpus (1k identical docs) must produce a
    LINEAR candidate/pair count (star pairs to the bucket representative),
    not the ~B²/2 all-pairs blowup — while still connecting every doc into
    one dup cluster."""
    n_docs = 1000
    docs = spark.createDataFrame(
        [(i, BASE) for i in range(n_docs)], "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(docs, max_bucket=64).persist()
    n_pairs = pairs.count()
    # star shape: exactly n-1 edges (identical docs share every band; each
    # band contributes the same rep->member stars, deduped by distinct)
    assert n_pairs == n_docs - 1, n_pairs
    clusters = dup_clusters(pairs)
    assert clusters.select("cluster_id").distinct().count() == 1
    assert clusters.count() == n_docs
    pairs.unpersist()


def test_clusters_cache_invalidated_on_source_change(spark, tmp_path):
    """The materialized cluster table is fingerprint-keyed like the
    LSH/IVF indexes: a regenerated documents fixture must rebuild, never
    serve stale components."""
    import os
    import shutil

    from realparse_spark.operators.dedup import _CLUSTERS, q_dedup_clusters

    d = str(tmp_path / "sfcopy_cc")
    os.makedirs(d)
    p = os.path.join(d, "documents.parquet")
    shutil.copy("/root/testdata/sf0.001/documents.parquet", p)

    q_dedup_clusters(spark, d).count()
    keys1 = {k for k in _CLUSTERS if k[0] == os.path.abspath(d)}
    assert len(keys1) == 1

    os.utime(p, ns=(1, 1))
    q_dedup_clusters(spark, d).count()
    keys2 = {k for k in _CLUSTERS if k[0] == os.path.abspath(d)}
    assert len(keys2) == 2, "stale cluster table reused after source change"


def test_prefix_filter_matches_brute_force(spark):
    """The prefix-filtered join is LOSSLESS: its output must equal the
    brute-force all-pairs shingle Jaccard on an engineered corpus whose
    near-dup pair sits exactly at the pruning boundary."""
    from realparse_spark.operators.dedup import prefix_jaccard_pairs, word_ngrams

    docs = _docs(spark)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_jaccard_pairs(docs, n=2, threshold=0.3).collect()
    }
    # brute force: cross all pairs, exact distinct-bigram Jaccard
    rows = docs.select(
        "doc_id", word_ngrams(F.col("text"), 2).alias("g")
    ).collect()
    sets = {r.doc_id: set(r.g) for r in rows}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = round(inter / len(sets[a] | sets[b]), 6)
                if j >= 0.3:
                    want[(a, b)] = j
    assert got == want, (got, want)


def test_prefix_index_is_smaller_than_full_index(spark):
    """The point of prefix filtering: the candidate join must index only
    ~(1-t) of each document's postings.  Assert the pruning actually
    happens (each doc keeps s - ceil(t*s) + 1 of its s shingles)."""
    import math

    from pyspark.sql import Window

    from realparse_spark.operators.dedup import word_ngrams

    t = 0.6
    docs = _docs(spark)
    toks = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 2)).alias("tok")
    )
    full = toks.count()
    doc_freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    order_w = Window.partitionBy("doc_id").orderBy("df", "tok")
    size_w = Window.partitionBy("doc_id")
    pref = (
        toks.join(doc_freq, "tok")
        .withColumn("pos", F.row_number().over(order_w))
        .withColumn("n_tok", F.count(F.lit(1)).over(size_w))
        .filter(F.col("pos") <= F.col("n_tok") - F.ceil(F.lit(t) * F.col("n_tok")) + 1)
    )
    sizes = {r.doc_id: r.n for r in toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    expected = sum(s - math.ceil(t * s) + 1 for s in sizes.values())
    assert pref.count() == expected
    assert pref.count() < 0.5 * full


def test_postings_and_prefix_caches_invalidated_on_source_change(spark, tmp_path):
    """The posting table and the prefix index follow the same
    fingerprint-keyed discipline as the cluster cache: a regenerated
    documents fixture must rebuild both, and a repeat call with an
    unchanged fixture must reuse the same materialized path."""
    import os
    import shutil

    from realparse_spark.operators.dedup import (
        _POSTINGS,
        _PREFIX_IDX,
        q_dedup_ngram,
        q_dedup_prefix_jaccard,
    )

    d = str(tmp_path / "sfcopy_post")
    os.makedirs(d)
    p = os.path.join(d, "documents.parquet")
    shutil.copy("/root/testdata/sf0.001/documents.parquet", p)

    q_dedup_ngram(spark, d).count()
    q_dedup_prefix_jaccard(spark, d).count()
    post1 = {k: v for k, v in _POSTINGS.items() if k[0] == os.path.abspath(d)}
    pref1 = {k: v for k, v in _PREFIX_IDX.items() if k[0] == os.path.abspath(d)}
    assert len(post1) == 1 and len(pref1) == 1
    for path in list(post1.values()) + list(pref1.values()):
        assert os.path.isfile(os.path.join(path, "_SUCCESS"))

    # unchanged source: same key, same path (reuse, no rebuild)
    q_dedup_ngram(spark, d).count()
    assert {k: v for k, v in _POSTINGS.items() if k[0] == os.path.abspath(d)} == post1

    # regenerated source: new key — stale index must not serve
    os.utime(p, ns=(1, 1))
    q_dedup_ngram(spark, d).count()
    q_dedup_prefix_jaccard(spark, d).count()
    post2 = {k for k in _POSTINGS if k[0] == os.path.abspath(d)}
    pref2 = {k for k in _PREFIX_IDX if k[0] == os.path.abspath(d)}
    assert len(post2) == 2, "stale posting table reused after source change"
    assert len(pref2) == 2, "stale prefix index reused after source change"


def test_prefix_self_join_keeps_explicit_parallelism(spark):
    """Regression for the AQE-coalesce trap: the verify-inline self-join's
    output is the multi-million-pair candidate stream, so the plan must
    keep the explicit repartition on the join key (user-specified
    partition counts are exempt from AQE coalescing)."""
    from realparse_spark.operators.dedup import q_dedup_prefix_jaccard

    df = q_dedup_prefix_jaccard(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan or "repartitionbyexpression" in plan.lower(), plan[:1500]


def test_minhash_and_tfidf_caches_follow_snapshot_discipline(spark, tmp_path):
    """The MinHash signature table and the tf-idf weight table join the
    fingerprint-keyed snapshot family: cached results must equal the
    from-docs computation, reuse must hit the same path, and a
    regenerated fixture must rebuild."""
    import os
    import shutil

    from realparse_spark.operators.dedup import (
        _MINHASH_SIG,
        minhash_lsh_pairs,
        q_dedup_minhash,
    )
    from realparse_spark.operators.text import (
        _TFIDF_WT,
        q_text_tfidf_cosine,
        tfidf_cosine_pairs,
    )
    from realparse_spark.sources.tables import fan_out, load_table

    d = str(tmp_path / "sfcopy_sig")
    os.makedirs(d)
    p = os.path.join(d, "documents.parquet")
    shutil.copy("/root/testdata/sf0.001/documents.parquet", p)

    docs = fan_out(load_table(spark, d, "documents"))
    assert set(map(tuple, q_dedup_minhash(spark, d).collect())) == set(
        map(tuple, minhash_lsh_pairs(docs).collect())
    )
    assert set(map(tuple, q_text_tfidf_cosine(spark, d).collect())) == set(
        map(tuple, tfidf_cosine_pairs(docs).collect())
    )
    sig1 = {k: v for k, v in _MINHASH_SIG.items() if k[0] == os.path.abspath(d)}
    wt1 = {k: v for k, v in _TFIDF_WT.items() if k[0] == os.path.abspath(d)}
    assert len(sig1) == 1 and len(wt1) == 1

    # unchanged source: reuse
    q_dedup_minhash(spark, d).count()
    assert {k: v for k, v in _MINHASH_SIG.items() if k[0] == os.path.abspath(d)} == sig1

    # regenerated source: new key
    os.utime(p, ns=(1, 1))
    q_dedup_minhash(spark, d).count()
    q_text_tfidf_cosine(spark, d).count()
    assert len({k for k in _MINHASH_SIG if k[0] == os.path.abspath(d)}) == 2
    assert len({k for k in _TFIDF_WT if k[0] == os.path.abspath(d)}) == 2


def test_incremental_minhash_matches_batch_cross_pairs(spark):
    """The incremental probe (incoming vs corpus signature snapshot) must
    return exactly the batch path's pairs that cross the split — same
    candidates, same estimates — when no bucket exceeds the cap."""
    from realparse_spark.operators.dedup import (
        minhash_lsh_pairs,
        q_dedup_incremental_minhash,
    )
    from realparse_spark.sources.tables import fan_out, load_table

    sf = "/root/testdata/sf0.001"
    docs = fan_out(load_table(spark, sf, "documents"))
    batch = minhash_lsh_pairs(docs).collect()
    expect = {
        (max(r.doc_a, r.doc_b) if max(r.doc_a, r.doc_b) % 5 == 0 else min(r.doc_a, r.doc_b),
         min(r.doc_a, r.doc_b) if max(r.doc_a, r.doc_b) % 5 == 0 else max(r.doc_a, r.doc_b),
         r.est_jaccard)
        for r in batch
        if (r.doc_a % 5 == 0) != (r.doc_b % 5 == 0)
    }
    got = {
        (r.inc_doc, r.corpus_doc, r.est_jaccard)
        for r in q_dedup_incremental_minhash(spark, sf).collect()
    }
    assert got == expect and got, (len(got), len(expect))


def test_soft_dedup_weights_exact_mass(spark):
    """Planted multiplicities: a group of m copies must contribute
    exactly one document (and one document's tokens) of effective mass,
    to micro-unit precision — the SoftDeDup invariant that dropping-free
    reweighting preserves unique content mass."""
    from realparse_spark.operators.dedup import soft_dedup_weights

    rows = (
        [(i, "alpha beta gamma", "en", "a", 16) for i in range(4)]      # m=4
        + [(10 + i, "delta epsilon", "en", "a", 13) for i in range(2)]  # m=2
        + [(20, "zeta eta theta iota", "en", "b", 19)]                  # unique
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in soft_dedup_weights(docs).collect()}
    a, b = out["a"], out["b"]
    assert a.n_docs == 6 and a.n_dup_docs == 6 and b.n_dup_docs == 0
    # two groups in source a -> exactly 2.0 effective docs; tokens: one
    # 3-token + one 2-token document's worth
    assert abs(a.eff_docs - 2.0) < 1e-4
    assert abs(a.eff_tokens - 5.0) < 1e-4
    assert b.eff_docs == 1.0 and b.eff_tokens == 4.0
    # raw token mass is conserved in the raw columns
    assert a.n_tokens == 4 * 3 + 2 * 2 and b.n_tokens == 4


def test_minhash_e2e_keeplist_partitions_corpus(spark):
    """The composed fuzzy-dedup lifecycle (signatures -> LSH pairs ->
    components -> canonical keep-list): planted copies must land in one
    cluster with exactly one canonical survivor, singletons must survive
    as their own cluster, and the decision table must partition the
    corpus exactly (every doc once, one keeper per cluster)."""
    from realparse_spark.operators.dedup import minhash_dedup_e2e

    docs = _docs(spark)  # 1,2,3 near/exact dups; 4,5 unrelated singletons
    out = {r.doc_id: r for r in minhash_dedup_e2e(docs).collect()}
    # partition: every doc exactly once
    assert sorted(out) == [1, 2, 3, 4, 5]
    # the planted group clusters together...
    grp = {out[i].cluster_id for i in (1, 2, 3)}
    assert grp == {1}, grp
    # ...with exactly one canonical member
    assert sum(out[i].is_canonical for i in (1, 2, 3)) == 1
    # singletons are their own cluster and always kept
    for i in (4, 5):
        assert out[i].cluster_id == i and out[i].is_canonical
    # one keeper per cluster, globally
    from collections import Counter

    keepers = Counter(r.cluster_id for r in out.values() if r.is_canonical)
    clusters = {r.cluster_id for r in out.values()}
    assert set(keepers) == clusters and all(v == 1 for v in keepers.values())


def test_minhash_e2e_job_budget(spark, sf_dir):
    """Over its signature snapshot, one `dedup_minhash_e2e` call is at most
    10 Spark jobs: the snapshot is read with its known schema (no
    schema-inference job) and `dup_clusters` takes its pair count from an
    Observation on the checkpoint it runs anyway (a count() adds 2 jobs
    under AQE)."""
    from realparse_spark.operators.dedup import q_dedup_minhash_e2e

    q_dedup_minhash_e2e(spark, sf_dir).collect()  # builds the snapshot
    sc = spark.sparkContext
    sc.setJobGroup("budget-minhash", "budget-minhash")
    try:
        rows = q_dedup_minhash_e2e(spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup("budget-minhash"))
    assert rows and n <= 10, n


@pytest.mark.parametrize("query, budget", [
    ("q_dedup_ngram", 5),
    ("q_dedup_containment", 5),
    ("q_dedup_clusters", 1),
    ("q_dedup_canonical", 4),
    ("q_dedup_prefix_jaccard", 5),
])
def test_snapshot_queries_warm_job_budget(spark, sf_dir, query, budget):
    """A warm call of each query over the postings, clusters or prefix-index
    snapshot reads it with the schema its builder wrote (`read_inferred_once`
    infers it once per snapshot), so it runs one job fewer than a bare
    `spark.read.parquet`, which infers the schema on every call."""
    from realparse_spark.operators import dedup

    run = getattr(dedup, query)
    run(spark, sf_dir).collect()  # builds the snapshot
    sc = spark.sparkContext
    sc.setJobGroup(f"budget-{query}", query)
    try:
        rows = run(spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup(f"budget-{query}"))
    assert rows and n <= budget, n


def test_band_join_same_pairs_for_hashed_and_raw_band_keys(spark):
    """`_band_join` returns the same pairs whether each band's bucket key is
    its xxhash64 compaction (`_band_key_array`, which `dedup_minhash_e2e`
    runs) or the raw hash tuple (`_band_struct_array`, which the
    DuckDB-checked `dedup_minhash_portable` row runs), so that oracle also
    vouches for the production banding.  max_bucket=2 forces the
    hot-bucket star path, which must change the pair set."""
    from realparse_spark.operators.dedup import (
        _band_join,
        _band_key_array,
        _band_struct_array,
    )
    from realparse_spark.sources.tables import fan_out, load_table
    from tests.conftest import SF_DIR_ORACLE

    sig = minhash_signatures(fan_out(load_table(spark, SF_DIR_ORACLE, "documents"))).localCheckpoint()
    by_cap = {}
    for cap in (1000, 2):
        hashed, raw = (
            set(map(tuple, _band_join(sig, sig, keys(32, 8), 32, 0.5, cap).collect()))
            for keys in (_band_key_array, _band_struct_array)
        )
        assert hashed == raw and hashed, (cap, len(hashed), len(raw))
        by_cap[cap] = hashed
    assert by_cap[2] != by_cap[1000]


def test_minhash_portable_tracks_planted_structure(spark):
    """The md5-portable MinHash companion must behave like MinHash:
    exact copies agree on every signature position (est_jaccard = 1.0),
    near-dups clear the 0.5 estimate threshold, and unrelated docs emit
    no pair.  (Hash-exactness vs DuckDB is covered by the registered
    oracle in test_oracle_parity.)"""
    from realparse_spark.operators.dedup import minhash_portable_pairs

    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_portable_pairs(_docs(spark)).collect()
    }
    assert got.get((1, 3)) == 1.0  # exact copies: all positions agree
    assert got.get((1, 2), 0.0) >= 0.5 and got.get((2, 3), 0.0) >= 0.5
    for pair in ((1, 4), (1, 5), (4, 5)):
        assert pair not in got


def test_dedup_eval_planted_structure_and_invariants(spark):
    """dedup_eval on the planted corpus: the exact-dup pair is a TP at
    every threshold (est = jac = 1.0), unrelated docs never inflate
    n_pred, and the report's internal arithmetic holds: n_true = tp+fn,
    n_pred = tp+fp, n_pred non-increasing in threshold, metrics in
    [0,1].  (Hash-exactness vs DuckDB is the registered oracle.)"""
    from realparse_spark.operators.dedup import dedup_eval

    rows = {r.threshold: r for r in dedup_eval(_docs(spark)).collect()}
    assert set(rows) == {0.5, 0.6, 0.7, 0.8}
    for t, r in rows.items():
        assert r.n_true == r.tp + r.fn and r.n_pred == r.tp + r.fp
        assert r.tp >= 1  # the exact-dup pair (1,3) survives every threshold
        for m in (r.precision, r.recall, r.f1):
            assert m is None or 0.0 <= m <= 1.0
        assert r.mean_abs_err is None or r.mean_abs_err >= 0.0
    preds = [rows[t].n_pred for t in sorted(rows)]
    assert preds == sorted(preds, reverse=True)
    # with only 5 docs the truth set is the 3 planted pairs; nothing
    # unrelated may be predicted (precision stays 1.0 at 0.5)
    assert rows[0.5].fp == 0 and rows[0.5].precision == 1.0


def test_simhash_portable_tracks_planted_structure(spark):
    """The md5-portable SimHash companion must behave like SimHash:
    exact copies at hamming 0, the one-word near-dup within the bound,
    unrelated docs absent.  (Hash-exactness vs DuckDB is covered by the
    registered oracle in test_oracle_parity; pigeonhole completeness is
    shared with the production path via _simhash_pigeonhole_pairs.)"""
    from realparse_spark.operators.dedup import simhash_portable_pairs

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_portable_pairs(_docs(spark)).collect()
    }
    assert got.get((1, 3)) == 0  # exact copies
    assert got.get((1, 2), 99) <= 3 and got.get((2, 3), 99) <= 3
    for pair in ((1, 4), (1, 5), (4, 5)):
        assert pair not in got
