"""ANN quality: the LSH-bucketed top-k must achieve high recall against the
exact brute-force top-k on the real fixture embeddings."""

from __future__ import annotations

from realparse_spark.operators.similarity import ann_lsh_topk, topk_cosine
from realparse_spark.sources.tables import load_table


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in topk_cosine(emb, query_vec_id=0, k=10).collect()]
    approx = [r.vec_id for r in ann_lsh_topk(emb, query_vec_id=0, k=10, radius=6).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, (recall, exact, approx)


def test_ivf_recall_vs_bruteforce(spark, sf_dir, tmp_path):
    """Build/probe split: the index is fit+written ONCE (partitioned by
    centroid_id); the probe must read only the probed partitions —
    PartitionFilters, not a full scan — and still recall the exact top-k."""
    import re

    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import build_ivf_index, ivf_probe
    from realparse_spark.plans import explain as X

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_ivf_index(emb, str(tmp_path / "ivf"), n_centroids=16, seed=42)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head().embedding]
    probed = ivf_probe(spark, idx, qv, k=10, n_probe=6, exclude_vec_id=0)

    plan = X.full_explain(probed)
    # centroid predicate prunes at plan time (reads n_probe partitions),
    # it does not degrade to a row filter over the whole index
    assert re.search(r"PartitionFilters: \[[^\]]*centroid_id[^\]]*\]", plan), plan[-2000:]

    exact = [r.vec_id for r in topk_cosine(emb, query_vec_id=0, k=10).collect()]
    approx = [r.vec_id for r in probed.collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, (recall, exact, approx)


def test_lsh_probe_pruned_and_identical_to_scan(spark, sf_dir, tmp_path):
    """The bucketed LSH probe must (a) read only the pigeonhole buckets —
    PartitionFilters on (chunk_id, chunk_val), never a full sketch scan —
    and (b) return EXACTLY the full-scan `ann_lsh_topk` result at the same
    radius (the pigeonhole bound makes the candidate set provably equal)."""
    import re

    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import build_lsh_index, lsh_probe
    from realparse_spark.plans import explain as X

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_lsh_index(emb, str(tmp_path / "lsh"))
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head().embedding]
    probed = lsh_probe(emb, idx, qv, k=10, radius=4, exclude_vec_id=0)

    plan = X.full_explain(probed)
    assert re.search(r"PartitionFilters: \[[^\]]*chunk_id[^\]]*\]", plan), plan[-2000:]

    scan = ann_lsh_topk(emb, query_vec_id=0, k=10, radius=4)
    assert [tuple(r) for r in probed.collect()] == [tuple(r) for r in scan.collect()]


def test_lsh_probe_smaller_radius_fewer_buckets_same_results(spark, sf_dir, tmp_path):
    """radius < N_CHUNKS-1 probes only radius+1 buckets (any radius+1
    chunks satisfy the pigeonhole bound) — and must STILL match the
    full-scan result exactly at that radius."""
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import build_lsh_index, lsh_probe

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_lsh_index(emb, str(tmp_path / "lsh_r2"))
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head().embedding]
    probed = lsh_probe(emb, idx, qv, k=10, radius=2, exclude_vec_id=0)
    scan = ann_lsh_topk(emb, query_vec_id=0, k=10, radius=2)
    assert [tuple(r) for r in probed.collect()] == [tuple(r) for r in scan.collect()]


def test_lsh_probe_radius_bound(spark, sf_dir, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import (
        N_CHUNKS,
        build_lsh_index,
        lsh_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_lsh_index(emb.limit(5), str(tmp_path / "lsh_small"))
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head().embedding]
    with pytest.raises(ValueError):
        lsh_probe(emb, idx, qv, radius=N_CHUNKS)


def test_lsh_cache_invalidated_on_source_change(spark, sf_dir, tmp_path):
    """Same fingerprint-keyed cache discipline as the IVF index: a
    regenerated embeddings fixture must rebuild, never reuse stale buckets."""
    import os
    import shutil

    from realparse_spark.operators.similarity import _LSH_INDEX, q_sim_ann

    d = str(tmp_path / "sfcopy_lsh")
    os.makedirs(d)
    p = os.path.join(d, "embeddings.parquet")
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), p)

    q_sim_ann(spark, d)
    keys1 = {k for k in _LSH_INDEX if k[0] == os.path.abspath(d)}
    assert len(keys1) == 1

    os.utime(p, ns=(1, 1))
    q_sim_ann(spark, d)
    keys2 = {k for k in _LSH_INDEX if k[0] == os.path.abspath(d)}
    assert len(keys2) == 2, "stale LSH index reused after source change"


def test_lsh_batch_probe_matches_per_query(spark, sf_dir, tmp_path):
    """The one-join batch probe must reproduce `lsh_probe` EXACTLY per
    query (same buckets, same hamming filter, same re-rank tie-breaks) —
    batching is a plan change, never a result change."""
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import (
        _read_lsh_index,
        build_lsh_index,
        lsh_probe,
        lsh_probe_batch,
    )
    from realparse_spark.plans import explain as X

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_lsh_index(emb, str(tmp_path / "lsh_batch"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = lsh_probe_batch(emb, idx, queries, k=7, radius=4)
    got = {}
    collected = batch.collect()
    # the batch path is an index lookup too, not a full index scan: the
    # postings scan of the plan that ran (AQE's final plan, its metrics
    # live after the collect) reads fewer postings than the index holds
    scans = [
        n for n in _plan_nodes(batch)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and "sketch" in [a.name() for a in _list_of(n.output())]
    ]
    assert len(scans) == 1, X.executed_plan(batch)
    read = scans[0].metrics().apply("numOutputRows").value()
    assert read < _read_lsh_index(spark, idx).count(), read
    for r in collected:
        got.setdefault(r.query_id, []).append((r.rk, r.vec_id, r.label, r.cos))
    assert set(got) <= set(range(5))
    for qid in range(5):
        row = emb.filter(F.col("vec_id") == qid).select("embedding").head()
        single = lsh_probe(
            emb, idx, [float(x) for x in row.embedding], k=7, radius=4,
            exclude_vec_id=qid,
        ).collect()
        expect = [(i + 1, r.vec_id, r.label, r.cos) for i, r in enumerate(single)]
        assert sorted(got.get(qid, [])) == sorted(expect), qid


def _list_of(seq) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _plan_nodes(df) -> list:
    """Every physical operator of `df`'s executed plan (JVM objects),
    through AQE query stages; after an action the final plan's SQL metrics
    are live on them."""
    stack, out = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out.append(node)
        stack.extend(_list_of(node.children()))
    return out


def test_lsh_batch_probe_dedup_is_narrow(spark, sf_dir, tmp_path):
    """Shape pin: the batch probe's candidate dedup exchange carries
    (query_id, vec_id) pairs only — no array-typed column at all (the
    index holds postings, and label/embedding join in after the dedup) —
    and neither re-attach join (corpus vectors, query vectors) may become
    a shuffle join."""
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import build_lsh_index, lsh_probe_batch
    from realparse_spark.plans import explain as X

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_lsh_index(emb, str(tmp_path / "lsh_narrow"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = lsh_probe_batch(emb, idx, queries, k=7, radius=4)
    # probe join, the embeddings re-attach and the qe/qn re-attach are all
    # BroadcastHashJoins; nothing shuffles
    assert X.broadcast_join_count(df) >= 3
    assert X.sortmerge_join_count(df) == 0
    # the dedup shuffles: hash-partitioned on (query_id, vec_id)
    dedup = [
        n for n in _plan_nodes(df)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        and "hashpartitioning(query_id" in n.simpleString(100)
        and "vec_id" in n.simpleString(100)
    ]
    assert dedup, X.executed_plan(df)
    for ex in dedup:
        cols = [(a.name(), a.dataType().typeName()) for a in _list_of(ex.output())]
        assert sorted(c for c, _ in cols) == ["query_id", "vec_id"], cols
        assert all(t != "array" for _, t in cols), cols


# A clustered 32-float corpus, narrower than the 64-wide hyperplanes (as
# the benchmark corpus is): the fixtures are all 64 wide, so only this
# corpus checks that a sketch past the end of a vector adds nothing rather
# than turning NULL and zeroing every bit.
_N32, _DIM32, _CLUSTERS32 = 300, 32, 12


def _clustered(n: int, dim: int, n_clusters: int, seed: int = 7) -> list[tuple]:
    import random

    rng = random.Random(seed)
    centers = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    for i in range(n):
        c = rng.randrange(n_clusters)
        rows.append((i, [x + rng.gauss(0.0, 0.08) for x in centers[c]], c))
    return rows


def test_sketch_matches_driver_replica_at_every_width(spark):
    """The JVM sketch must equal `_sketch_py` bit for bit at widths below,
    at and above the planes' 64 — a coordinate past either array adds
    nothing — and a clustered 32-dim corpus must not collapse onto one
    sketch."""
    from realparse_spark.operators.similarity import _hyperplanes, _sketch, _sketch_py

    planes = _hyperplanes()
    for dim in (32, 64, 96):
        emb = spark.createDataFrame(
            _clustered(120, dim, 6, seed=dim), "vec_id long, embedding array<float>, label int"
        )
        got = emb.select("embedding", _sketch("embedding", planes).alias("sk")).collect()
        bad = [r.sk for r in got if r.sk != _sketch_py(r.embedding, planes)]
        assert not bad, (dim, bad[:5])
        if dim == 32:
            assert len({r.sk for r in got}) > 1


def test_lsh_probes_agree_at_32_dims(spark, tmp_path):
    """On a 32-dim clustered corpus the single probe, the batch probe and
    the full-scan `ann_lsh_topk` return the same rows per query — and
    those rows are non-empty neighbours, not an empty probe."""
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import (
        build_lsh_index,
        lsh_probe,
        lsh_probe_batch,
    )

    emb = spark.createDataFrame(
        _clustered(_N32, _DIM32, _CLUSTERS32), "vec_id long, embedding array<float>, label int"
    )
    idx = build_lsh_index(emb, str(tmp_path / "lsh32"))
    nq, k = 6, 7
    queries = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {}
    for r in lsh_probe_batch(emb, idx, queries, k=k, radius=4).collect():
        batch.setdefault(r.query_id, []).append((r.rk, r.vec_id, r.label, r.cos))
    vecs = {r.vec_id: r.embedding for r in emb.filter(F.col("vec_id") < nq).collect()}
    for qid in range(nq):
        single = lsh_probe(
            emb, idx, [float(x) for x in vecs[qid]], k=k, radius=4, exclude_vec_id=qid
        ).collect()
        scan = ann_lsh_topk(emb, query_vec_id=qid, k=k, radius=4).collect()
        assert len(scan) == k, (qid, scan)
        assert [tuple(r) for r in single] == [tuple(r) for r in scan], qid
        expect = [(i + 1, r.vec_id, r.label, r.cos) for i, r in enumerate(scan)]
        assert sorted(batch.get(qid, [])) == expect, qid


def test_lsh_batch_probe_prunes_at_32_dims(spark, tmp_path):
    """Pruning gate: on the 32-dim clustered corpus the batch probe's
    candidate pairs after the hamming filter — the rows out of the
    (query_id, vec_id) dedup, read from the plan's SQL metrics, no extra
    job — stay under a quarter of |Q| x N.  A sketch that collapsed every
    vector onto one value would pass all N per query."""
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import build_lsh_index, lsh_probe_batch

    emb = spark.createDataFrame(
        _clustered(_N32, _DIM32, _CLUSTERS32), "vec_id long, embedding array<float>, label int"
    )
    idx = build_lsh_index(emb, str(tmp_path / "lsh32_prune"))
    nq = 20
    queries = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = lsh_probe_batch(emb, idx, queries, k=5, radius=4)
    assert len({r.query_id for r in df.collect()}) == nq
    # the final (post-shuffle) dedup aggregate: one row per distinct pair
    finals = [
        n for n in _plan_nodes(df)
        if n.getClass().getSimpleName().endswith("AggregateExec")
        and n.requiredChildDistributionExpressions().isDefined()
        and sorted(e.name() for e in _list_of(n.groupingExpressions())) == ["query_id", "vec_id"]
    ]
    assert len(finals) == 1, [n.simpleString(100) for n in finals]
    pairs = finals[0].metrics().apply("numOutputRows").value()
    assert 0 < pairs < 0.25 * nq * _N32, pairs


def test_lsh_index_writes_one_file_per_bucket(spark, tmp_path):
    """A corpus read in many splits still gives one postings file per
    (chunk_id, chunk_val) bucket, not one per (write task, bucket): every
    probe lists and opens the index's files."""
    import os

    from realparse_spark.operators.similarity import _read_lsh_index, build_lsh_index

    emb = spark.createDataFrame(
        _clustered(_N32, _DIM32, _CLUSTERS32), "vec_id long, embedding array<float>, label int"
    ).repartition(32)
    idx = build_lsh_index(emb, str(tmp_path / "lsh_files"))
    files = [f for _, _, names in os.walk(idx) for f in names if f.endswith(".parquet")]
    buckets = _read_lsh_index(spark, idx).select("chunk_id", "chunk_val").distinct().count()
    assert len(files) == buckets, (len(files), buckets)


def test_knn_join_ivf_recall(spark, sf_dir, tmp_path):
    """Centroid-blocked batch k-NN (the documented 100 TB block key) must
    recall a healthy share of the exact all-pairs top-k despite block
    boundaries."""
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import build_ivf_index, knn_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_ivf_index(emb, str(tmp_path / "ivf_knn"), n_centroids=8, seed=42)
    approx = {}
    for r in knn_join_ivf(spark, idx, k=3).collect():
        approx.setdefault(r.vec_a, set()).add(r.vec_b)
    # near-total coverage: only singleton centroid blocks (no in-block
    # pairs) may drop out — an inherent blocking property, not a bug
    assert len(approx) >= 0.99 * emb.count()

    # exact top-3 for a sample of query vectors via brute force
    sample_ids = list(range(0, 40, 4))
    hits = total = 0
    for qid in sample_ids:
        exact = [r.vec_id for r in topk_cosine(emb, query_vec_id=qid, k=3).collect()]
        total += len(exact)
        hits += len(set(exact) & approx.get(qid, set()))
    assert hits / total >= 0.3, (hits, total)


def test_ann_scores_match_exact_for_common_hits(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id: r.cos for r in topk_cosine(emb, query_vec_id=0, k=10).collect()}
    approx = {r.vec_id: r.cos for r in ann_lsh_topk(emb, query_vec_id=0, k=10, radius=6).collect()}
    for vid in set(exact) & set(approx):
        assert exact[vid] == approx[vid]  # same re-rank metric, same value


def test_arrow_cosine_matches_expression_path(spark, sf_dir):
    """The mapInPandas/numpy scoring kernel must reproduce the JVM fold
    expression exactly (same rounded scores, same order) — callers pick
    per embedding width, results must not depend on the choice."""
    from realparse_spark.operators.similarity import topk_cosine_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    a = [tuple(r) for r in topk_cosine(emb, query_vec_id=0, k=10).collect()]
    b = [tuple(r) for r in topk_cosine_arrow(emb, query_vec_id=0, k=10).collect()]
    assert a == b


def test_ivf_cache_invalidated_on_source_change(spark, sf_dir, tmp_path):
    """ADVICE fix: the per-process IVF index cache must key on a source
    fingerprint — regenerating the embeddings fixture in place must trigger
    a rebuild, never reuse of a stale on-disk index."""
    import os
    import shutil

    from realparse_spark.operators.similarity import _IVF_INDEX, q_sim_ivf

    d = str(tmp_path / "sfcopy")
    os.makedirs(d)
    p = os.path.join(d, "embeddings.parquet")
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), p)

    q_sim_ivf(spark, d)
    keys1 = {k for k in _IVF_INDEX if k[0] == os.path.abspath(d)}
    assert len(keys1) == 1

    os.utime(p, ns=(1, 1))  # "regenerated" fixture: same path, new mtime
    q_sim_ivf(spark, d)
    keys2 = {k for k in _IVF_INDEX if k[0] == os.path.abspath(d)}
    assert len(keys2) == 2, "stale index reused after source change"


def test_pq_reconstruction_beats_mean_baseline(spark, sf_dir):
    """PQ error bound: per-dim reconstruction MSE must beat the 1-centroid
    baseline (reconstructing every vector as the corpus mean, whose MSE is
    the per-dim variance) by a wide margin — otherwise the codebooks
    learned nothing."""
    import numpy as np
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import fit_pq_codebooks, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq_codebooks(emb)
    pq_mse = pq_encode(emb, books).agg(F.avg("mse")).collect()[0][0]

    X = np.asarray([r.embedding for r in emb.select("embedding").collect()],
                   dtype=np.float64)
    var = float(((X - X.mean(axis=0)) ** 2).sum(axis=1).mean() / X.shape[1])
    assert pq_mse < 0.6 * var, (pq_mse, var)


def test_pq_search_recall_vs_bruteforce(spark, sf_dir):
    """ADC shortlist + exact re-rank must recall >= 0.8 of the exact top-10
    (random unit vectors are PQ's adversarial case; the driver query's
    adaptive shortlist holds 0.9 at every fixture scale)."""
    from realparse_spark.operators.similarity import (
        _pq_books_for,
        pq_search,
        topk_cosine,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    books = _pq_books_for(spark, sf_dir)
    exact = {r.vec_id for r in topk_cosine(emb, 0, 10).collect()}
    sl = max(100, emb.count() // 10)
    got = {
        r.vec_id
        for r in pq_search(emb, books, [float(x) for x in row.embedding],
                           k=10, shortlist=sl, exclude_vec_id=0).collect()
    }
    assert len(exact & got) / len(exact) >= 0.8, (exact, got)


def test_pq_encode_deterministic_and_code_bounds(spark, sf_dir):
    """Encoding is a pure function of (corpus, seed): two fits + encodes
    agree code-for-code, and every code is within [0, K)."""
    from pyspark.sql import functions as F

    from realparse_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        fit_pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e1 = pq_encode(emb, fit_pq_codebooks(emb)).orderBy("vec_id").collect()
    e2 = pq_encode(emb, fit_pq_codebooks(emb)).orderBy("vec_id").collect()
    assert [list(r.codes) for r in e1] == [list(r.codes) for r in e2]
    assert all(len(r.codes) == PQ_M for r in e1)
    assert all(0 <= c < PQ_K for r in e1 for c in r.codes)


def test_ivf_pq_search_recall_vs_bruteforce(spark, sf_dir):
    """The composed IVF-PQ probe (partition pruning × compressed-domain
    shortlist) must recall >= 0.8 of the exact top-10 at the driver
    query's knobs."""
    from realparse_spark.operators.similarity import (
        _ivf_index_for,
        _pq_books_for,
        ivf_pq_search,
        topk_cosine,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    idx = _ivf_index_for(spark, sf_dir)
    books = _pq_books_for(spark, sf_dir)
    exact = {r.vec_id for r in topk_cosine(emb, 0, 10).collect()}
    got = {
        r.vec_id
        for r in ivf_pq_search(
            spark, idx, books, [float(x) for x in row.embedding],
            k=10, n_probe=12, shortlist=max(100, emb.count() // 10),
            exclude_vec_id=0,
        ).collect()
    }
    assert len(exact & got) / len(exact) >= 0.8, (exact, got)


def test_pq_driver_queries_fresh_fit_deterministic(spark, sf_dir):
    """End-to-end determinism for the three PQ driver queries (round-7
    verdict task 4): clearing the codebook cache and re-running must
    reproduce every row — fit (k-means++ seeding), encode (argmin ties)
    and ADC/LUT arithmetic are all pinned, not just the encode step."""
    from realparse_spark.operators import similarity as sim

    from pq_golden import PQ_QUERY_NAMES, run_all

    first = run_all(spark, sf_dir)
    sim._PQ_BOOKS.clear()
    second = run_all(spark, sf_dir)
    for name in PQ_QUERY_NAMES:
        assert first[name] == second[name], f"{name} shifted on a fresh fit"
        assert first[name], f"{name} returned no rows"


def test_pq_driver_queries_match_golden_snapshot(spark, sf_dir):
    """Round-over-round pin: the PQ queries are the only components whose
    outputs no oracle or parity test fixes exactly, so their results are
    snapshotted against the fixture's content hash.  A silent kernel
    change fails here; an intentional one regenerates via
    `python tests/regen_pq_golden.py`."""
    import json

    import pytest

    from pq_golden import GOLDEN_PATH, PQ_QUERY_NAMES, fixture_sha, run_all

    with open(GOLDEN_PATH) as fh:
        golden = json.load(fh)
    if golden["fixture_sha"] != fixture_sha(sf_dir):
        pytest.skip(
            "embeddings fixture regenerated since the golden snapshot — "
            "re-pin with `python tests/regen_pq_golden.py`"
        )
    got = run_all(spark, sf_dir)
    for name in PQ_QUERY_NAMES:
        assert got[name] == golden["results"][name], (
            f"{name} shifted vs the committed golden snapshot; if the "
            "kernel change was intentional run tests/regen_pq_golden.py"
        )


def test_matryoshka_lossless_truncation_perfect_recall(spark):
    """If every component beyond the smallest evaluated width is zero,
    truncation loses nothing: recall@k must be exactly 1.0 at EVERY
    width (and the full-width row is 1.0 by construction always)."""
    from realparse_spark.operators.similarity import matryoshka_eval

    rows = []
    for i in range(40):
        head = [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]
        rows.append((i, head + [0.0] * 56, i % 3))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.dim: r.avg_recall for r in matryoshka_eval(emb).collect()}
    assert out == {8: 1.0, 16: 1.0, 64: 1.0}


def test_matryoshka_fixture_full_width_is_ground_truth(spark):
    """On the real fixture the full-width row must be exactly 1.0 and
    narrower widths in [0, 1] — the eval's internal consistency."""
    from realparse_spark.operators.similarity import matryoshka_eval
    from realparse_spark.sources.tables import load_table

    out = {
        r.dim: r.avg_recall
        for r in matryoshka_eval(
            load_table(spark, "/root/testdata/sf0.001", "embeddings")
        ).collect()
    }
    assert out[64] == 1.0
    assert all(0.0 <= out[d] <= 1.0 for d in (8, 16))


def test_retrieval_eval_perfect_planted_relevance(spark):
    """Two orthogonal tight clusters: every same-label vector outranks
    every cross-label one, so recall@k, MRR and nDCG@k are exactly 1.0
    for both query labels."""
    from realparse_spark.operators.similarity import retrieval_eval

    rows = [(i, [1.0, 0.01 * i, 0.0, 0.0], 0) for i in range(4)]
    rows += [(100 + i, [0.0, 0.0, 1.0, 0.01 * i], 1) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in retrieval_eval(emb, k=3, query_mod=100).collect()}
    assert set(out) == {0, 1}
    for lbl in (0, 1):
        r = out[lbl]
        assert r.n_queries == 1
        assert (r.recall_at_k, r.mrr, r.ndcg_at_k) == (1.0, 1.0, 1.0)


def test_retrieval_eval_decoy_penalizes_rank(spark):
    """A wrong-label decoy identical to the query steals rank 1: MRR
    halves, recall@3 drops to 2/3, and nDCG matches the shared weight
    literals exactly — the metric arithmetic, not just its sign."""
    from realparse_spark.operators.similarity import _DCG_W, _IDCG, retrieval_eval

    rows = [(i, [1.0, 0.01 * i, 0.0, 0.0], 0) for i in range(4)]
    rows += [(100 + i, [0.0, 0.0, 1.0, 0.01 * i], 1) for i in range(4)]
    rows += [(7, [1.0, 0.0, 0.0, 0.0], 9)]  # decoy: exact copy of query 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in retrieval_eval(emb, k=3, query_mod=100).collect()}
    r0 = out[0]
    assert r0.mrr == 0.5
    assert r0.recall_at_k == round(2 / 3, 6)
    assert r0.ndcg_at_k == round((_DCG_W[1] + _DCG_W[2]) / _IDCG[2], 6)
    # label 9 has one member and no query -> no row; label 1 unaffected
    assert set(out) == {0, 1}
    assert (out[1].recall_at_k, out[1].mrr, out[1].ndcg_at_k) == (1.0, 1.0, 1.0)


def test_retrieval_dcg_weights_shape(spark):
    """The shared literals: w strictly decreasing from 1.0, IDCG the
    rounded prefix sums — the contract both engines embed."""
    from realparse_spark.operators.similarity import _DCG_W, _IDCG, RETRIEVAL_K

    assert len(_DCG_W) == len(_IDCG) == RETRIEVAL_K
    assert _DCG_W[0] == 1.0
    assert all(a > b for a, b in zip(_DCG_W, _DCG_W[1:]))
    for i in range(RETRIEVAL_K):
        assert _IDCG[i] == round(sum(_DCG_W[: i + 1]), 9)


def test_retrieval_eval_ann_bounds_and_consistency(spark):
    """The ANN-probe evaluation over the real fixture: every metric in
    [0, 1], per-label query counts never exceed the exact baseline's
    (a pruned probe can only lose queries, never invent them), and the
    label set is a subset of the exact report's."""
    from realparse_spark.operators.similarity import (
        q_retrieval_eval,
        q_retrieval_eval_ann,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r.label: r for r in q_retrieval_eval(spark, sf).collect()}
    ann = {r.label: r for r in q_retrieval_eval_ann(spark, sf).collect()}
    assert ann and set(ann) <= set(exact)
    for lbl, r in ann.items():
        assert 0 <= r.recall_at_k <= 1
        assert 0 <= r.mrr <= 1
        assert 0 <= r.ndcg_at_k <= 1
        assert 1 <= r.n_queries <= exact[lbl].n_queries


def test_hard_negative_mining_planted_margins(spark):
    """On a corpus whose labels match its geometry (two tight blobs),
    every mined negative comes from the other blob, every query's
    best positive is its own blob, and all margins are positive; row
    bookkeeping: exactly k_neg rows per query, ranks 1..k_neg."""
    from realparse_spark.operators.similarity import hard_negative_mining

    rows = []
    for i in range(20):
        rows.append((i, [10.0 + 0.01 * (i % 3), 1.0, 0.0, 0.0], 0))
    for i in range(20, 40):
        rows.append((i, [0.0, 1.0, 10.0 + 0.01 * (i % 3), 0.0], 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = hard_negative_mining(emb, k_neg=3, query_mod=10).collect()
    qids = {r.qid for r in out}
    assert qids == {0, 10, 20, 30}
    for qid in qids:
        mine = sorted((r for r in out if r.qid == qid), key=lambda r: r.rk)
        assert [r.rk for r in mine] == [1, 2, 3]
        assert all(r.neg_label != r.q_label for r in mine)
        assert all(r.margin is not None and r.margin > 0 for r in mine)


def test_bm25_retrieval_eval_planted_distinctive_terms(spark):
    """A query source whose docs share a unique rare token must retrieve
    its own source perfectly (recall@k = mrr = ndcg = 1), while filler
    sources that never appear as queries produce no metric rows.  Also
    pins the metric frame: one row per query source, n_queries counts
    its planted queries."""
    from realparse_spark.operators.similarity import bm25_retrieval_eval

    rows = []
    # source 'hit': 6 docs sharing the rare token 'zyzzyva'; doc_id 0 is
    # the query (0 % mod == 0)
    for i in range(6):
        rows.append((i * 3, f"zyzzyva common word filler {i}", "hit"))
    # filler source: generic docs, never selected as queries
    for i in range(10):
        rows.append((1000 + i * 3 + 1, "common word filler text", "miss"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = bm25_retrieval_eval(docs, k=5, query_mod=3000, n_terms=3).collect()
    # only doc_id 0 is a query (0 % 3000 == 0); its label is 'hit'
    assert [r.label for r in out] == ["hit"]
    r = out[0]
    assert r.n_queries == 1
    assert r.recall_at_k == 1.0  # all 5 same-source docs in top-5
    assert r.mrr == 1.0
    assert r.ndcg_at_k == 1.0


def test_mmr_diversify_skips_the_near_duplicate(spark):
    """Planted MMR behavior: the shortlist has two near-identical
    high-relevance vectors and one moderately relevant diverse vector.
    Pure relevance ranks the twin second; MMR must rank the DIVERSE
    vector second (the twin's redundancy penalty sinks it) and emit
    rank 1 as the pure-relevance argmax with mmr_score = rel_cos."""
    import math

    from realparse_spark.operators.similarity import mmr_diversify

    def v(x, y):
        n = math.sqrt(x * x + y * y)
        return [x / n, y / n, 0.0, 0.0]

    rows = [
        (0, v(1.0, 0.0), 0),        # the query (vec_id % mod == 0)
        (1, v(0.95, 0.312), 0),     # top hit (vec_id tie-break over vec 3)
        (2, v(0.95, 0.3121), 0),    # near-identical twin of vec 1 (sim ~ 1)
        (3, v(0.95, -0.312), 1),    # equally relevant, mirrored = diverse
        (4, v(0.0, 1.0), 1),        # orthogonal filler
    ]
    # mmr(twin)   = 0.7*0.95 - 0.3*sim(1,2)~1.0   ~ 0.365
    # mmr(mirror) = 0.7*0.95 - 0.3*sim(1,3)~0.805 ~ 0.423  -> mirror wins
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = mmr_diversify(emb, k=3, shortlist=4, query_mod=1000).collect()
    byrank = {r.rank: r for r in out if r.qid == 0}
    assert sorted(byrank) == [1, 2, 3]
    assert byrank[1].vec_id == 1
    assert byrank[1].mmr_score == byrank[1].rel_cos
    assert byrank[2].vec_id == 3  # diversity beats the near-twin
    assert byrank[3].vec_id == 2  # twin returns once the mirror is in
    # every selected vec is unique
    assert len({r.vec_id for r in out}) == len(out)


def test_emb_isotropy_separates_collapsed_from_spread(spark):
    """A collapsed space (all vectors nearly identical) must read
    mean_cos ~ 1 with frac_above_half = 1e6; an orthogonal basis must
    read mean_cos ~ 0 with frac_above_half = 0; pair counts are exact
    C(probe, 2)."""
    from realparse_spark.operators.similarity import emb_isotropy

    collapsed = [
        (i * 7, [1.0, 0.001 * i, 0.0, 0.0], 0) for i in range(6)
    ]
    emb_c = spark.createDataFrame(
        collapsed, "vec_id long, embedding array<float>, label int"
    )
    r = emb_isotropy(emb_c).collect()[0]
    assert r.n_pairs == 15  # C(6,2)
    assert r.mean_cos > 0.99
    assert r.frac_above_half_ppm == 1_000_000
    assert r.var_cos >= 0

    basis = [(i * 7, [1.0 if j == i else 0.0 for j in range(4)], 0) for i in range(4)]
    emb_o = spark.createDataFrame(
        basis, "vec_id long, embedding array<float>, label int"
    )
    r = emb_isotropy(emb_o).collect()[0]
    assert r.n_pairs == 6
    assert r.mean_cos == 0.0 and r.max_cos == 0.0
    assert r.frac_above_half_ppm == 0


def test_emb_dim_variance_profile(spark):
    """Variance profile invariants on planted anisotropy: the dominant
    dimension owns ~all the variance share, shares sum to ~1, cum_share
    is non-decreasing and ends at ~1, and a constant dimension reads
    exactly variance 0."""
    from realparse_spark.operators.similarity import emb_dim_variance

    rows = []
    for i in range(30):
        rows.append((i, [5.0 if i % 2 == 0 else -5.0, 0.01 * (i % 3), 7.0], i % 2))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.pos: r for r in emb_dim_variance(emb).collect()}
    assert len(out) == 3
    assert out[0].var_share > 0.99
    assert out[2].variance == 0.0  # constant dimension
    assert abs(sum(r.var_share for r in out.values()) - 1.0) < 1e-4
    cums = [out[p].cum_share for p in sorted(out)]
    assert cums == sorted(cums)
    assert abs(cums[-1] - 1.0) < 1e-4
