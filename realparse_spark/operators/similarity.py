"""Similarity search over the `embeddings` table (array<float> column) —
the ANN surface of a training-data pipeline (BASELINE.json north star).

- `topk_cosine`      : exact brute-force top-k — the correctness baseline.
                       One narrow scan + a single ORDER BY LIMIT k (Spark
                       executes TakeOrderedAndProject: per-partition heap,
                       no full sort, no shuffle of the data).
- `ann_lsh_topk`     : random-hyperplane LSH over a full scan — 16-bit sign
                       sketch per vector, candidates = vectors whose sketch
                       hamming-distance to the query sketch <= radius, exact
                       cosine re-rank on candidates only.  Serves no query:
                       it is the parity reference for the index probe.
- `lsh_probe_batch`  : the shipped probe — the same candidates read from a
                       bucketed postings index (pigeonhole lookup instead of
                       the scan) for any number of queries in one join; it
                       serves `sim_ann_lsh`, `sim_ann_lsh_batch` and
                       `retrieval_eval_ann`.

Hyperplanes are generated from a fixed LCG seed (deterministic across
sessions, no numpy dependency at plan time, no Date.now-style
nondeterminism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realparse_spark.operators.dedup import cosine
from realparse_spark.sources.tables import load_table

N_PLANES = 16
_DIM = 64


def _hyperplanes(n_planes: int = N_PLANES, dim: int = _DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1)^dim (LCG)."""
    state = 0x9E3779B97F4A7C15
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _sketch(col: str, planes: list[list[float]]) -> Column:
    """Sign sketch of the array column `col`: bit i = 1 iff
    dot(vec, plane_i) > 0.  Pure expression — evaluated JVM-side per row,
    no UDF — built as ONE SQL string with exact `repr(float)` double
    literals, so the plan costs one parse instead of a py4j call per
    coefficient.  `zip_with` NULL-pads the shorter array, and a NULL dot
    makes `> 0` false for every bit; a coordinate past either array
    therefore adds 0.0 (the truncation `_sketch_py`'s `zip` makes), so
    vectors of any width sketch alike in both."""
    terms = []
    for i, plane in enumerate(planes):
        coeffs = ", ".join(f"{v!r}D" for v in plane)
        dot = (
            f"aggregate(zip_with(`{col}`, array({coeffs}), "
            "(x, y) -> coalesce(CAST(x AS DOUBLE) * y, 0D)), 0D, (acc, v) -> acc + v)"
        )
        terms.append(f"IF({dot} > 0, {1 << i}L, 0L)")
    return F.expr(" | ".join(terms))


def topk_cosine(emb: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact top-k by cosine against one stored vector.  The query vector
    is a 1-row broadcast (no collect in the plan's hot path)."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe")
    )
    scored = (
        emb.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qe")), 4).alias("cos"),
        )
    )
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(k)


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk_cosine(load_table(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


SIM_TOPK_SQL = r"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, label,
    round(
      list_aggregate(list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
         * sqrt(list_aggregate(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4) AS cos
  FROM embeddings, q
  WHERE vec_id <> 0
)
SELECT vec_id, label, cos FROM scored
ORDER BY cos DESC, vec_id
LIMIT 10
"""


def knn_join(emb: DataFrame, k: int = 3) -> DataFrame:
    """Batch k-NN join: EVERY vector's top-k neighbors (not one query's) —
    the retrieval/dedup primitive a corpus-scale pipeline actually runs.
    Candidates are label-blocked (the coarse cluster id), so pairwise work
    is |block|² per block, never corpus².  Ranking uses the rounded
    score with vec_id tie-breaks, so the top-k set is engine-deterministic.

    Shape: one equi self-join on the block key, then a per-vec_id window
    (partitioned — no global sort).  The window's shuffle key is vec_a:
    uniform, no skew."""
    from pyspark.sql import Window

    a = emb.select(F.col("vec_id").alias("vec_a"), "label", F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), "label", F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, "label")
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select(
            "label", "vec_a", "vec_b",
            F.round(cosine(F.col("ea"), F.col("eb")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_a").orderBy(F.col("cos").desc(), F.col("vec_b"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("vec_a", "rk", "vec_b", "cos")
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_join(load_table(spark, sf_dir, "embeddings"), k=3)


EMB_KNN_JOIN_SQL = r"""
WITH a AS (SELECT vec_id AS vec_a, label, embedding AS ea FROM embeddings),
     b AS (SELECT vec_id AS vec_b, label, embedding AS eb FROM embeddings),
pairs AS (
  SELECT a.label, vec_a, vec_b,
    round(
      list_aggregate(list_transform(range(1, len(ea) + 1), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
         * sqrt(list_aggregate(list_transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4) AS cos
  FROM a JOIN b ON a.label = b.label AND vec_a <> vec_b
),
ranked AS (
  SELECT vec_a, vec_b, cos,
    row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b) AS rk
  FROM pairs
)
SELECT vec_a, CAST(rk AS INTEGER) AS rk, vec_b, cos FROM ranked WHERE rk <= 3
"""


def ann_lsh_topk(
    emb: DataFrame, query_vec_id: int, k: int = 10, radius: int = 4
) -> DataFrame:
    """Approximate top-k: LSH sign-sketch prefilter + exact re-rank.

    Candidates = rows with hamming(sketch, query_sketch) <= radius.  With
    16 planes and radius 4 on clustered vectors, recall against brute
    force is 1.0 (asserted in tests) while the re-rank set shrinks by ~an
    order of magnitude; on the fixtures' random unit vectors it is far
    lower (0.15 at k = 10 on sf0.1).  A full scan per query: the parity
    reference for `lsh_probe_batch`, which reads the same candidates from
    the bucketed index."""
    sk = emb.withColumn("sketch", _sketch("embedding", _hyperplanes()))
    q = sk.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe"), F.col("sketch").alias("qsk")
    )
    cand = (
        sk.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .filter(F.bit_count(F.col("sketch").bitwiseXOR(F.col("qsk"))) <= radius)
    )
    return (
        cand.select(
            "vec_id", "label",
            F.round(cosine(F.col("embedding"), F.col("qe")), 4).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Bucketed LSH index: the shipped probe path.
#
# `ann_lsh_topk` above scans every sketch per query — fine as the parity
# baseline, a scale-killer as the shipped search primitive.  The index
# below makes the probe an index lookup via the pigeonhole bound: split
# the N-bit sketch into (radius + 1) chunks; any vector within hamming
# distance <= radius of the query must agree with it EXACTLY in at least
# one chunk (if all radius+1 chunks differed, distance would be >= radius+1).
# Persist one POSTING per vector per chunk — (vec_id, sketch), two longs —
# partitioned by (chunk_id, chunk_val); the probe reads exactly radius+1
# partitions — a pruned scan, asserted in tests — takes the union, applies
# the exact hamming filter and dedups (query, vec) ids.  Only then do the
# survivors join `embeddings` once, for label and the exact cosine
# re-rank: the filter-then-verify split, a compact index to pick
# candidates and the original vectors to check them.  Candidate set is
# IDENTICAL to the full scan's (completeness is provable, and parity is
# test-pinned), at a storage cost of N_CHUNKS (= max radius + 1) 16-byte
# postings per vector, never a copy of the vector — the standard
# multi-index LSH trade.
# ---------------------------------------------------------------------------

N_CHUNKS = 5  # supports hamming radius <= 4


def _chunk_bounds(n_planes: int = N_PLANES, n_chunks: int = N_CHUNKS) -> list[tuple[int, int]]:
    """(bit_offset, n_bits) per chunk; chunk sizes differ by at most 1."""
    base, rem = divmod(n_planes, n_chunks)
    sizes = [base + (1 if i < rem else 0) for i in range(n_chunks)]
    offsets = [sum(sizes[:i]) for i in range(n_chunks)]
    return list(zip(offsets, sizes))


def _sketch_py(vec: list[float], planes: list[list[float]]) -> int:
    """Pure-Python replica of `_sketch`: same sequential left-fold double
    math, so bits match the JVM exactly (the sketch parity tests compare
    the two at several widths)."""
    bits = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for x, y in zip(vec, plane):
            acc += float(x) * y
        if acc > 0:
            bits |= 1 << i
    return bits


def build_lsh_index(emb: DataFrame, index_path: str) -> str:
    """Offline half: sketch every vector ONCE and write its postings
    (vec_id, sketch) partitioned by (chunk_id, chunk_val) — no label, no
    embedding.  One shuffle on (chunk_id, chunk_val) gives one file per
    bucket; rebuilt only when the corpus changes (`_lsh_index_for`).  An
    empty corpus leaves a directory with no part-file, which
    `_read_lsh_index` reads back as zero postings."""
    sk = emb.select("vec_id", _sketch("embedding", _hyperplanes()).alias("sketch"))
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("sketch"), off).bitwiseAND(F.lit((1 << size) - 1))
            for off, size in _chunk_bounds()
        ]
    )
    # one shuffle on the bucket key: each bucket is written by one task,
    # so it is one file however many splits the corpus arrives in
    sk.select(
        "vec_id", "sketch", F.posexplode(chunks).alias("chunk_id", "chunk_val")
    ).repartition("chunk_id", "chunk_val").write.mode("overwrite").partitionBy(
        "chunk_id", "chunk_val"
    ).parquet(index_path)
    return index_path


def _read_lsh_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The postings with the schema `build_lsh_index` writes: no parquet
    schema-inference job per probe (partition values take the declared
    types)."""
    return spark.read.schema(
        "vec_id long, sketch long, chunk_id int, chunk_val long"
    ).parquet(index_path)


# Per-process index cache, keyed by the corpus fingerprint: the driver and
# bench probe the same corpus repeatedly.
_LSH_INDEX: dict[tuple, str] = {}


def _lsh_index_for(spark: SparkSession, sf_dir: str) -> str:
    from realparse_spark.cache import fingerprint_key, snapshot_path

    return snapshot_path(
        _LSH_INDEX,
        fingerprint_key(sf_dir, "embeddings", N_PLANES, N_CHUNKS),
        "realparse_lsh_",
        lambda tmp: build_lsh_index(load_table(spark, sf_dir, "embeddings"), tmp),
    )


def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query for `sim_ann_lsh`: top-10 neighbours of stored vector 0,
    the batch probe over a one-row query frame.  Same rows as the
    full-scan `ann_lsh_topk` at the same radius (test-pinned)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        lsh_probe_batch(emb, _lsh_index_for(spark, sf_dir), queries, k=10, radius=4)
        .orderBy("rk")
        .select("vec_id", "label", "cos")
    )


def lsh_probe_batch(
    emb: DataFrame,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    radius: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """MANY-query probe — the production retrieval shape (a training-data
    pipeline probes thousands of queries per run, not one).

    Each query row (query_id, embedding) is sketched JVM-side and exploded
    into its radius+1 pigeonhole (chunk_id, chunk_val) probe keys; ONE
    equi-join against the bucketed postings on those keys replaces |Q|
    separate lookups.  The probe keys (|Q| × (radius+1) rows of four
    numbers) always broadcast, so Spark plans DYNAMIC partition pruning on
    the postings scan (chunk_id / chunk_val are partition columns); left
    to itself, AQE broadcasts the postings of a small corpus whole and
    reads every one of them (the scan's row count is gate-pinned in
    tests).  The pairs that pass the hamming filter are the pigeonhole
    candidates only, never |Q| × corpus (a pruning gate in
    tests counts them).  The exact hamming filter and the dedup of
    multi-chunk matches run on (query_id, vec_id) pairs alone; the
    survivors then join `emb` (the indexed corpus, read once) for label
    and embedding, and the per-query top-k window (partitioned by
    query_id — a uniform key, no skew) completes the exact re-rank.
    Per-query results are IDENTICAL to the full-scan `ann_lsh_topk` at the
    same radius (parity test-pinned).

    `queries` must be deterministic: it is evaluated twice (once for the
    probe keys, once to re-attach each query's embedding), so a source
    that yields different rows per evaluation (an uncached sample or
    limit) would silently drop or mispair candidates — cache it first."""
    if radius >= N_CHUNKS:
        raise ValueError(f"index supports radius <= {N_CHUNKS - 1}, got {radius}")
    # ANY radius+1 chunks suffice: a candidate within hamming <= radius
    # mismatches at most radius chunks, so among any radius+1 of them at
    # least one matches exactly — smaller radii probe fewer buckets
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("qsk"), off).bitwiseAND(F.lit((1 << size) - 1))
            for off, size in _chunk_bounds()[: radius + 1]
        ]
    )
    sq = queries.select(
        "query_id",
        F.col("embedding").alias("qe"),
        _sketch("embedding", _hyperplanes()).alias("qsk"),
    )
    probes = sq.select(
        "query_id", "qsk", F.posexplode(chunks).alias("chunk_id", "chunk_val")
    )
    # hamming filter BEFORE the dedup shuffle: bit_count is a per-row
    # scalar (same verdict for every duplicate of a (query, vec) pair),
    # so filtering first is semantics-preserving and the dropDuplicates
    # exchange only carries survivors — as two longs, no vector at all
    # (guide §2.3, project before the exchange).  label and embedding
    # come from `emb` after the dedup, qe from the tiny per-query table,
    # which also lets its norm be evaluated ONCE per query instead of
    # once per candidate pair (the r11 norm-hoist discipline).
    cand = (
        _read_lsh_index(emb.sparkSession, index_path)
        .join(F.broadcast(probes), ["chunk_id", "chunk_val"])
        .filter(F.bit_count(F.col("sketch").bitwiseXOR(F.col("qsk"))) <= radius)
        .select("query_id", "vec_id")
        .dropDuplicates()
    )
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("query_id"))
    # same fold expressions as dedup.cosine(), with the query-side norm
    # computed per QUERY row (qside materializes before the join, so the
    # sqrt-fold runs |Q| times, not once per candidate); na*qn is the
    # identical IEEE multiply cosine() evaluates as na*nb, and the
    # when/round shape matches exactly -> every cos is bit-identical
    # (parity with ann_lsh_topk and topk_cosine stays test-pinned)
    sqsum = lambda a: F.aggregate(  # noqa: E731
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    qside = sq.select("query_id", "qe", F.sqrt(sqsum(F.col("qe"))).alias("qn"))
    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    denom = F.sqrt(sqsum(F.col("embedding"))) * F.col("qn")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cand.join(emb.select("vec_id", "label", "embedding"), "vec_id")
        .join(qside, "query_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(F.when(denom > 0, dot / denom), 4).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "label", "cos")
    )


def q_sim_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query for `sim_ann_lsh_batch`: top-5 neighbors for the first
    20 corpus vectors in one joined probe against the bucketed index."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _lsh_index_for(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_probe_batch(emb, idx, queries, k=5, radius=4)


# ---------------------------------------------------------------------------
# Matryoshka truncation evaluation
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 64)  # prefix dims to evaluate; last = full width
MRL_QUERY_MOD = 100  # vec_id % mod == 0 picks the deterministic eval set
MRL_K = 10


def matryoshka_eval(
    emb: DataFrame,
    dims: tuple[int, ...] = MRL_DIMS,
    k: int = MRL_K,
    query_mod: int = MRL_QUERY_MOD,
) -> DataFrame:
    """Matryoshka-representation evaluation (Kusupati et al. 2022,
    arXiv:2205.13147): recall@k of brute-force retrieval using only the
    FIRST d embedding components (renormalized) against full-width
    ground truth, per candidate width.  The table that decides how far
    an MRL-style index can truncate vectors before recall pays — the
    storage/recall dial for a 100 TB vector corpus.

    Shape: the eval set (vec_id % query_mod == 0) is a bounded broadcast;
    ONE corpus scan scores every (query, width) pair via an in-row
    explode over the width list (never one scan per width); per-(query,
    width) ranking is a keyed window over the corpus — the brute-force
    eval baseline, priced per eval query, matching `topk_cosine`.  A
    production run at full corpus scale evaluates against LSH candidate
    sets instead (the index above); this operator is the
    exact yardstick those evals compare to."""
    # explode the width list and compute each side's truncated slice AND
    # its norm BEFORE the pair join: `cosine()` inlined per pair re-folds
    # both slice norms for every (query, vector, width) row — precomputing
    # them per (row, width) is the identical float expression on identical
    # values, so dot/(na*nb) is bit-for-bit the same cosine (guide §1.2
    # step 2).
    dim_arr = F.explode(F.array(*[F.lit(d) for d in dims])).alias("dim")
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    sl = F.slice(F.col("embedding"), F.lit(1), F.col("dim"))
    q = (
        emb.filter(F.pmod(F.col("vec_id"), F.lit(query_mod)) == 0)
        .select(F.col("vec_id").alias("qid"), "embedding", dim_arr)
        .select("qid", "dim", sl.alias("qe"), norm(sl).alias("nq"))
    )
    corpus = emb.select("vec_id", "embedding", dim_arr).select(
        "vec_id", "dim", sl.alias("ce"), norm(sl).alias("nc")
    )
    dot = F.aggregate(
        F.zip_with("ce", "qe", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    denom = F.col("nc") * F.col("nq")
    scored = (
        corpus.join(F.broadcast(q), "dim")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "dim",
            F.round(F.when(denom > 0, dot / denom), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("qid", "dim").orderBy(
        F.col("cos").desc_nulls_last(), "vec_id"
    )
    topk = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "dim", "vec_id")
    )
    gt = topk.filter(F.col("dim") == dims[-1]).select(
        "qid", "vec_id", F.lit(1).alias("hit")
    )
    return (
        topk.join(gt, ["qid", "vec_id"], "left")
        .groupBy("dim")
        .agg(
            F.count_distinct("qid").cast("bigint").alias("n_queries"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1)), 4
            ).alias("avg_recall"),
        )
        .orderBy("dim")
    )


def q_emb_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    return matryoshka_eval(load_table(spark, sf_dir, "embeddings"))


EMB_MATRYOSHKA_SQL = rf"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {MRL_QUERY_MOD} = 0
),
dims AS (SELECT unnest([{", ".join(str(d) for d in MRL_DIMS)}]) AS dim),
scored AS (
  SELECT q.qid, e.vec_id, d.dim,
    round(
      list_aggregate(list_transform(range(1, d.dim + 1),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(range(1, d.dim + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum'))
         * sqrt(list_aggregate(list_transform(range(1, d.dim + 1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), 'sum'))), 4) AS cos
  FROM embeddings e, q, dims d
  WHERE e.vec_id <> q.qid
),
topk AS (
  SELECT qid, dim, vec_id FROM (
    SELECT qid, dim, vec_id,
      row_number() OVER (PARTITION BY qid, dim
                         ORDER BY cos DESC NULLS LAST, vec_id) AS rn
    FROM scored)
  WHERE rn <= {MRL_K}
),
gt AS (SELECT qid, vec_id FROM topk WHERE dim = {MRL_DIMS[-1]})
SELECT t.dim,
  CAST(count(DISTINCT t.qid) AS BIGINT) AS n_queries,
  round(CAST(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        / count(*), 4) AS avg_recall
FROM topk t LEFT JOIN gt g ON t.qid = g.qid AND t.vec_id = g.vec_id
GROUP BY t.dim
ORDER BY t.dim
"""


# ---------------------------------------------------------------------------
# retrieval quality evaluation: recall@k / MRR / nDCG@k over planted relevance
# ---------------------------------------------------------------------------

RETRIEVAL_K = 10
RETRIEVAL_QUERY_MOD = 25

# Rational-precision DCG weights, computed ONCE in Python and embedded as
# identical literals in BOTH engines (the judge-prescribed exact-log2
# surrogate): w_i = round(1/log2(i+1), 9) for rank i, and IDCG prefix sums
# rounded to 9.  All in-engine accumulation of these literals runs as
# exact DECIMAL sums, so neither engine ever does an order-dependent
# float reduction.
def _dcg_weights(k: int) -> tuple[list[float], list[float]]:
    import math

    w = [round(1.0 / math.log2(i + 1), 9) for i in range(1, k + 1)]
    idcg = [round(sum(w[: i + 1]), 9) for i in range(k)]
    return w, idcg


_DCG_W, _IDCG = _dcg_weights(RETRIEVAL_K)


def _scored_queries(emb: DataFrame, query_mod: int) -> DataFrame:
    """(qid, q_label, vec_id, label, cos) — the planted-relevance scored
    stage shared by `retrieval_eval` and `hard_negative_mining`: unit
    vectors computed ONCE per side, deterministic query subset broadcast,
    one corpus scan, round-6 sequential-fold cosine (the SQL mirror is
    `_RETRIEVAL_SCORED_CTES`)."""
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)  # noqa: E731
    norm = lambda a: F.sqrt(  # noqa: E731
        fold(F.transform(a, lambda x: x.cast("double") * x.cast("double")))
    )
    # evaluate the norm ONCE per row (array_repeat arg), not once per
    # element: Spark never hoists loop-invariant expressions out of a
    # higher-order lambda, so `transform(a, x -> x/norm(a))` is O(d^2)
    # per vector.  x/n is the identical IEEE division -> bit-stable.
    unit = lambda a: F.zip_with(  # noqa: E731
        a, F.array_repeat(norm(a), F.size(a)), lambda x, n: x.cast("double") / n
    )
    q = emb.filter(F.pmod(F.col("vec_id"), F.lit(query_mod)) == 0).select(
        F.col("vec_id").alias("qid"),
        unit(F.col("embedding")).alias("qu"),
        F.col("label").alias("q_label"),
    )
    corpus = emb.select("vec_id", "label", unit(F.col("embedding")).alias("u"))
    return (
        corpus.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "q_label",
            "vec_id",
            "label",
            F.round(fold(F.zip_with("u", "qu", lambda x, y: x * y)), 6).alias("cos"),
        )
    )


def retrieval_eval(
    emb: DataFrame, k: int = RETRIEVAL_K, query_mod: int = RETRIEVAL_QUERY_MOD
) -> DataFrame:
    """Standard retrieval-quality report — per-label recall@k, MRR, and
    nDCG@k — the evaluation a similarity-search pipeline publishes before
    an index change ships.  Relevance is PLANTED: a corpus vector is
    relevant to a query iff it shares the query's `label` (self excluded),
    so ground truth is exact and both engines agree on it; queries are the
    deterministic vec_id % query_mod == 0 subset.

    Metrics per query, then averaged per label:
    - recall@k = relevant-in-top-k / n_relevant
    - MRR      = 1 / rank of the first relevant result (0 if none)
    - nDCG@k   = DCG/IDCG with binary gains and w_i = 1/log2(i+1)
      embedded as shared rounded literals (see `_dcg_weights`)

    Determinism: both sides normalize to unit vectors ONCE (component =
    x/||x||, one division each — the semdedup `u` discipline) and the
    cosine is a single sequential-fold dot rounded to 6 before ranking,
    with vec_id tie-breaks; DCG sums run as exact decimals over the
    shared weight literals; every per-query metric rounds to 6 and
    per-label averages sum decimals then divide once, IEEE, in both
    engines.

    Scale: norms are computed per VECTOR (|corpus| + |Q| passes), never
    per (query, vector) pair; queries broadcast (O(Q·dim)); ONE corpus
    scan scores all queries; the top-k window partitions by query id
    (uniform key, k rows kept per query).  This is the exact-baseline
    eval — production evaluates an ANN index by swapping the scored
    stage for the index probe (`lsh_probe_batch`, as
    `q_retrieval_eval_ann` does) against the same planted relevance,
    which is why the metric plumbing lives apart from any index
    (`_retrieval_metrics`)."""
    labn = emb.groupBy("label").agg(F.count(F.lit(1)).cast("int").alias("n_label"))
    scored = _scored_queries(emb, query_mod)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    top = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    return _retrieval_metrics(top.select("qid", "q_label", "label", "rk"), labn, k)


def _retrieval_metrics(top: DataFrame, labn: DataFrame, k: int) -> DataFrame:
    """Per-label metric rollup over a ranked result table
    (qid, q_label, label, rk) — shared by the exact baseline
    (`retrieval_eval`) and the ANN-probe evaluation
    (`q_retrieval_eval_ann`), so both grade against identical planted
    relevance with identical arithmetic."""
    wlit = F.array(*[F.lit(x).cast("decimal(18,9)") for x in _DCG_W])
    rel = F.col("label") == F.col("q_label")
    per_q = top.groupBy("qid", "q_label").agg(
        F.sum(rel.cast("int")).cast("int").alias("hits"),
        F.min(F.when(rel, F.col("rk"))).alias("first_rel"),
        F.sum(
            F.when(rel, F.element_at(wlit, F.col("rk"))).otherwise(
                F.lit(0).cast("decimal(18,9)")
            )
        ).alias("dcg"),
    )
    idcg_lit = F.array(*[F.lit(x) for x in _IDCG])
    joined = per_q.join(F.broadcast(labn), per_q.q_label == labn.label).select(
        "qid",
        "q_label",
        "hits",
        "first_rel",
        "dcg",
        (F.col("n_label") - 1).alias("n_rel"),
    )
    metrics = joined.select(
        "q_label",
        F.when(F.col("n_rel") > 0, F.round(F.col("hits") / F.col("n_rel"), 6))
        .otherwise(F.lit(0.0))
        .cast("decimal(12,6)")
        .alias("recall"),
        F.coalesce(F.round(F.lit(1.0) / F.col("first_rel"), 6), F.lit(0.0))
        .cast("decimal(12,6)")
        .alias("mrr"),
        F.when(
            F.col("n_rel") > 0,
            F.round(
                F.col("dcg").cast("double")
                / F.element_at(idcg_lit, F.least(F.col("n_rel"), F.lit(k))),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(12,6)")
        .alias("ndcg"),
    )
    return (
        metrics.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.round(F.sum("recall").cast("double") / F.count(F.lit(1)), 6).alias(
                "recall_at_k"
            ),
            F.round(F.sum("mrr").cast("double") / F.count(F.lit(1)), 6).alias("mrr"),
            F.round(F.sum("ndcg").cast("double") / F.count(F.lit(1)), 6).alias(
                "ndcg_at_k"
            ),
        )
        .orderBy("label")
    )


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval_eval(load_table(spark, sf_dir, "embeddings"))


def q_retrieval_eval_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`retrieval_eval` with the SHIPPED index in the retrieval seat:
    the bucketed-LSH batch probe replaces the exact scored stage, and
    the identical `_retrieval_metrics` rollup grades it against the same
    planted same-label relevance — the before/after report a pipeline
    reads when an index parameter (radius, chunks, planes) changes.

    ANN honesty: a pruned probe can return FEWER than k rows (or none)
    for a query, and a query with no candidates drops out of its label's
    n_queries — both are real index behavior the report must surface,
    not paper over.  Rows-only driver check (the LSH sketch is
    xxhash-free but hyperplane-LCG based — not worth a second SQL
    mirror); the exact-side arithmetic is already hash-verified via
    `retrieval_eval`, bounds/consistency gates live in
    tests/test_similarity.py, and the probe itself is tied to the exact
    `topk_cosine` there (recall@k and exact scores).

    Scale: probe work is Σ|bucket| over probed buckets (dynamic
    partition pruning on the postings scan), the re-rank reads
    `embeddings` once for the surviving candidates' vectors, then
    O(|Q|·k) metric rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _lsh_index_for(spark, sf_dir)
    q = emb.filter(F.pmod(F.col("vec_id"), F.lit(RETRIEVAL_QUERY_MOD)) == 0)
    res = lsh_probe_batch(
        emb,
        idx,
        q.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=RETRIEVAL_K,
        radius=4,
    )
    qlab = q.select(F.col("vec_id").alias("qid"), F.col("label").alias("q_label"))
    top = res.join(F.broadcast(qlab), res.query_id == qlab.qid).select(
        "qid", "q_label", "label", "rk"
    )
    labn = emb.groupBy("label").agg(F.count(F.lit(1)).cast("int").alias("n_label"))
    return _retrieval_metrics(top, labn, RETRIEVAL_K)


# q/corpus/scored: the planted-relevance scored stage (unit-normalize
# once per side, one rounded fold-dot per pair) — shared by the
# retrieval eval oracle and the hard-negative mining oracle.
_RETRIEVAL_SCORED_CTES = rf"""q AS (
  SELECT vec_id AS qid,
    list_transform(embedding, x -> CAST(x AS DOUBLE)
      / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS qu,
    label AS q_label
  FROM embeddings
  WHERE vec_id % {RETRIEVAL_QUERY_MOD} = 0
),
corpus AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE)
      / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS u
  FROM embeddings
),
scored AS (
  SELECT q.qid, q.q_label, e.vec_id, e.label,
    round(list_aggregate(list_transform(range(1, len(e.u) + 1),
          i -> e.u[i] * q.qu[i]), 'sum'), 6) AS cos
  FROM corpus e, q
  WHERE e.vec_id <> q.qid
)"""


RETRIEVAL_EVAL_SQL = rf"""
WITH labn AS (SELECT label, CAST(count(*) AS INTEGER) AS n_label FROM embeddings GROUP BY 1),
{_RETRIEVAL_SCORED_CTES},
top AS (
  SELECT qid, q_label, label,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
  FROM scored
  QUALIFY rk <= {RETRIEVAL_K}
),
perq AS (
  SELECT qid, q_label,
    CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS INTEGER) AS hits,
    min(CASE WHEN label = q_label THEN rk END) AS first_rel,
    sum(CASE WHEN label = q_label
        THEN CAST(([{", ".join(repr(x) for x in _DCG_W)}])[rk] AS DECIMAL(18,9))
        ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg
  FROM top GROUP BY 1, 2
),
met AS (
  SELECT q_label,
    CAST(CASE WHEN n_label - 1 > 0
      THEN round(hits / (n_label - 1), 6) ELSE 0 END AS DECIMAL(12,6)) AS recall,
    CAST(coalesce(round(CAST(1 AS DOUBLE) / first_rel, 6), 0) AS DECIMAL(12,6)) AS mrr,
    CAST(CASE WHEN n_label - 1 > 0
      THEN round(CAST(dcg AS DOUBLE)
           / ([{", ".join(repr(x) for x in _IDCG)}])[least(n_label - 1, {RETRIEVAL_K})], 6)
      ELSE 0 END AS DECIMAL(12,6)) AS ndcg
  FROM perq JOIN labn ON perq.q_label = labn.label
)
SELECT q_label AS label,
  CAST(count(*) AS BIGINT) AS n_queries,
  round(CAST(sum(recall) AS DOUBLE) / count(*), 6) AS recall_at_k,
  round(CAST(sum(mrr) AS DOUBLE) / count(*), 6) AS mrr,
  round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6) AS ndcg_at_k
FROM met GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive-training data for embedding models)
# ---------------------------------------------------------------------------

HARD_NEG_K = 5


def hard_negative_mining(
    emb: DataFrame, k_neg: int = HARD_NEG_K, query_mod: int = RETRIEVAL_QUERY_MOD
) -> DataFrame:
    """Per query, the ``k_neg`` highest-cosine WRONG-label corpus vectors
    plus the best positive and the margin — the mining pass that turns a
    labeled corpus into contrastive training data for an embedding model
    (hard negatives are what make in-batch-negative training work; the
    margin column is the per-query difficulty signal a curriculum sorts
    on, and non-positive margins flag label noise or embedding collapse).

    Shares `_scored_queries` (and its SQL CTE mirror) with
    `retrieval_eval`, so the mined negatives are exactly the ones the
    eval's ranking saw: one corpus scan, broadcast queries, per-qid
    window bounded to k_neg rows, best-positive as an order-free MAX.
    At scale the scored stage is the same plan the eval already pays;
    mining adds one bounded window and one broadcast join-back."""
    scored = _scored_queries(emb, query_mod)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    neg = (
        scored.filter(F.col("label") != F.col("q_label"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k_neg)
    )
    best_pos = (
        scored.filter(F.col("label") == F.col("q_label"))
        .groupBy("qid")
        .agg(F.max("cos").alias("best_pos_cos"))
    )
    return (
        neg.join(F.broadcast(best_pos), "qid", "left")
        .select(
            "qid",
            "q_label",
            "rk",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.col("cos").alias("neg_cos"),
            "best_pos_cos",
            F.round(F.col("best_pos_cos") - F.col("cos"), 6).alias("margin"),
        )
        .orderBy("qid", "rk")
    )


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hard_negative_mining(load_table(spark, sf_dir, "embeddings"))


HARD_NEGATIVES_SQL = rf"""
WITH {_RETRIEVAL_SCORED_CTES},
neg AS (
  SELECT qid, q_label, vec_id AS neg_id, label AS neg_label, cos AS neg_cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
  FROM scored WHERE label <> q_label
  QUALIFY rk <= {HARD_NEG_K}
),
bp AS (SELECT qid, max(cos) AS best_pos_cos FROM scored WHERE label = q_label GROUP BY 1)
SELECT n.qid, n.q_label, CAST(n.rk AS INTEGER) AS rk, n.neg_id, n.neg_label, n.neg_cos,
  bp.best_pos_cos, round(bp.best_pos_cos - n.neg_cos, 6) AS margin
FROM neg n LEFT JOIN bp ON n.qid = bp.qid
ORDER BY n.qid, n.rk
"""


# ---------------------------------------------------------------------------
# embedding isotropy audit (collapse / anisotropy monitor)
# ---------------------------------------------------------------------------

ISOTROPY_MOD = 7  # vec_id % 7 == 0 is the deterministic probe subset


def emb_isotropy(emb: DataFrame, probe_mod: int = ISOTROPY_MOD) -> DataFrame:
    """Isotropy audit over a deterministic probe subset: the
    distribution of pairwise cosines between probe vectors — mean,
    spread, extremes, and the high-cosine mass — the one-row monitor an
    embedding pipeline tracks per model push (contextual embeddings are
    notoriously anisotropic, Ethayarajh 2019: mean pairwise cosine near
    1 means the space has collapsed and EVERY downstream cosine
    operator — dedup, ANN, retrieval — degrades; a healthy space sits
    near 0).  Columns: n_pairs, mean_cos, var_cos, min_cos, max_cos,
    frac_above_half (share of pairs with cos >= 0.5, ppm).

    Determinism: probe pairs are vec_id % probe_mod == 0 with a < b
    (no hashing needed — the subset is the modulus); each cosine is the
    shared round-6 unit-dot fold; mean and variance accumulate round-6
    terms (and their squares, rounded to 12) as exact DECIMAL and
    divide once; frac is integer ppm.

    Scale: the quadratic term is |probe|^2 with |probe| = N/probe_mod —
    a monitor runs on a FIXED probe budget (raise probe_mod with N; the
    audit needs thousands of pairs, not corpus-squared); the pair join
    is a broadcast of the probe subset against itself, one scan."""
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)  # noqa: E731
    norm = lambda a: F.sqrt(  # noqa: E731
        fold(F.transform(a, lambda x: x.cast("double") * x.cast("double")))
    )
    # evaluate the norm ONCE per row (array_repeat arg), not once per
    # element: Spark never hoists loop-invariant expressions out of a
    # higher-order lambda, so `transform(a, x -> x/norm(a))` is O(d^2)
    # per vector.  x/n is the identical IEEE division -> bit-stable.
    unit = lambda a: F.zip_with(  # noqa: E731
        a, F.array_repeat(norm(a), F.size(a)), lambda x, n: x.cast("double") / n
    )

    probe = emb.filter(F.pmod(F.col("vec_id"), F.lit(probe_mod)) == 0).select(
        "vec_id", unit(F.col("embedding")).alias("u")
    )
    a = probe.select(F.col("vec_id").alias("a"), F.col("u").alias("ua"))
    b = probe.select(F.col("vec_id").alias("b"), F.col("u").alias("ub"))
    pairs = (
        a.join(F.broadcast(b))
        .filter(F.col("a") < F.col("b"))
        .select(
            F.round(fold(F.zip_with("ua", "ub", lambda x, y: x * y)), 6).alias(
                "cos"
            )
        )
    )
    dec = lambda c, p: F.sum(F.round(c, p).cast("decimal(38,12)"))  # noqa: E731
    n = F.count(F.lit(1))
    return pairs.groupBy().agg(
        n.cast("bigint").alias("n_pairs"),
        F.round(dec(F.col("cos"), 6).cast("double") / n, 6).alias("mean_cos"),
        F.round(
            dec(F.col("cos") * F.col("cos"), 12).cast("double") / n
            - F.pow(F.round(dec(F.col("cos"), 6).cast("double") / n, 6), 2),
            6,
        ).alias("var_cos"),
        F.min("cos").alias("min_cos"),
        F.max("cos").alias("max_cos"),
        F.expr("sum(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END) * 1000000 div count(*)")
        .cast("bigint")
        .alias("frac_above_half_ppm"),
    )


def q_emb_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return emb_isotropy(load_table(spark, sf_dir, "embeddings"))


EMB_ISOTROPY_SQL = rf"""
WITH probe AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)
      / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS u
  FROM embeddings
  WHERE vec_id % {ISOTROPY_MOD} = 0
),
pairs AS (
  SELECT round(list_aggregate(list_transform(range(1, len(a.u) + 1),
        i -> a.u[i] * b.u[i]), 'sum'), 6) AS cos
  FROM probe a JOIN probe b ON a.vec_id < b.vec_id
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
    round(CAST(sum(CAST(round(cos, 6) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean_cos,
    CAST(sum(CAST(round(cos * cos, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS ex2,
    min(cos) AS min_cos,
    max(cos) AS max_cos,
    CAST(sum(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS frac_above_half_ppm
  FROM pairs
)
SELECT n_pairs, mean_cos,
  round(ex2 - pow(mean_cos, 2), 6) AS var_cos,
  min_cos, max_cos, frac_above_half_ppm
FROM agg
"""


def emb_dim_variance(emb: DataFrame) -> DataFrame:
    """Per-dimension variance profile of the embedding table: variance,
    share of total variance (ppm), and the cumulative share in POSITION
    order — the width-pruning plan behind matryoshka truncation
    (`emb_matryoshka_eval` measures recall AT a width; this table says
    how much signal each prefix width retains, so the two together pick
    the shipped width).  A near-zero-variance dimension is dead weight
    in every cosine downstream.

    Determinism: per-dim moments are ONE-PASS exact-decimal sums (x and
    round-9 x^2), the variance numerator n*s2 - s1^2 stays in exact
    decimal over the common denominator n^2, each share is one IEEE
    division of identical decimal totals rounded to 6, and the
    cumulative walk sums the already-rounded shares.

    Scale: one posexplode + ONE map-side-combined (pos) aggregation
    (single pass, no mean join-back); the cumulative window is
    unpartitioned but runs over the O(dim) aggregate — bounded by
    construction (allowlisted like vocab_build), never corpus-sized."""
    from pyspark.sql import Window

    long = emb.select(F.posexplode("embedding").alias("pos", "x"))
    dec9 = lambda c: F.sum(c.cast("decimal(28,9)"))  # noqa: E731
    mom = long.groupBy("pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dec9(F.col("x")).alias("s1"),
        dec9(F.round(F.col("x").cast("double") * F.col("x").cast("double"), 9)).alias(
            "s2"
        ),
    )
    # exact common-denominator variance numerator: n*s2 - s1^2 over n^2
    num = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "decimal(38,18)"
    )
    scored = mom.select(
        "pos",
        F.round(
            num.cast("double") / (F.col("n") * F.col("n")), 9
        ).alias("variance"),
        # integer-ppm share needs an integer surrogate: micro-unit the
        # numerator once (round half-up via decimal -> bigint cast)
        num.cast("decimal(38,6)").alias("_num"),
    )
    tot = scored.agg(F.sum("_num").alias("_tot"))
    w = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            F.col("pos").cast("int").alias("pos"),
            "variance",
            F.round(
                F.col("_num").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("var_share"),
        )
        .withColumn("cum_share", F.round(F.sum(F.col("var_share")).over(w), 6))
        .orderBy("pos")
    )


def q_emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return emb_dim_variance(load_table(spark, sf_dir, "embeddings"))


EMB_DIM_VARIANCE_SQL = r"""
WITH long AS (
  SELECT unnest(range(0, len(embedding))) AS pos,
    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
  FROM embeddings
),
mom AS (
  SELECT pos, CAST(count(*) AS BIGINT) AS n,
    sum(CAST(x AS DECIMAL(28,9))) AS s1,
    sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS s2
  FROM long GROUP BY pos
),
scored AS (
  SELECT pos,
    round(CAST(CAST(n * s2 - s1 * s1 AS DECIMAL(38,18)) AS DOUBLE) / (n * n), 9) AS variance,
    CAST(CAST(n * s2 - s1 * s1 AS DECIMAL(38,18)) AS DECIMAL(38,6)) AS num
  FROM mom
),
tot AS (SELECT sum(num) AS tot FROM scored),
shares AS (
  SELECT pos, variance,
    round(CAST(num AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6) AS var_share
  FROM scored CROSS JOIN tot
)
SELECT CAST(pos AS INTEGER) AS pos, variance, var_share,
  round(sum(var_share) OVER (ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_share
FROM shares
ORDER BY pos
"""


# ---------------------------------------------------------------------------
# MMR diversification: greedy re-rank of the retrieval shortlist
# ---------------------------------------------------------------------------

MMR_K = 5  # results emitted per query
MMR_SHORTLIST = 12  # relevance-ranked candidate pool fed to the greedy pass
MMR_LAMBDA = 0.7  # relevance weight; (1 - lambda) penalizes redundancy


def mmr_diversify(
    emb: DataFrame,
    k: int = MMR_K,
    shortlist: int = MMR_SHORTLIST,
    lam: float = MMR_LAMBDA,
    query_mod: int = RETRIEVAL_QUERY_MOD,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) of each query's top-``shortlist`` cosine candidates:
    greedily emit ``k`` results, each maximizing

        mmr = lam * cos(q, i) - (1 - lam) * max_{j in selected} cos(i, j)

    — the standard diversification pass a retrieval pipeline runs so
    near-duplicate hits don't crowd the result page (and dedup'd
    training batches don't repeat one cluster).  Emits (qid, rank,
    vec_id, rel_cos, mmr_score); rank 1 is the pure-relevance argmax
    (mmr_score = rel_cos by convention).

    Determinism: relevance and candidate-pair cosines are the shared
    `_scored_queries` round-6 fold over once-normalized unit vectors;
    each greedy step then combines those round-6 values in EXACT decimal
    (lam and 1-lam as DECIMAL(2,1) literals — the score is exactly
    representable at scale 7, so no engine ever rounds a boundary
    double; Spark's shortest-string HALF_UP and DuckDB's binary-value
    round() disagree precisely on half-way products like 0.2551225) and
    the argmax is max(struct(mmr, -vec_id)) — exact tie-break to the
    SMALLEST vec_id, mirrored by the oracle's (mmr DESC, vec_id) window;
    the emitted mmr_score is ONE terminal decimal->double conversion.

    Scale: the quadratic term is shortlist^2 PER QUERY (bounded by the
    constant ``shortlist``, never corpus-sized — the semdedup star-cap
    discipline); the greedy recurrence runs IN-ROW over each query's
    collected shortlist (a bounded array of ``shortlist`` structs), so
    the whole pass is one shuffle (top-``shortlist`` window) + one
    groupBy — previously it unrolled to ``k`` rounds of anti-join +
    max-aggregate with a localCheckpoint per round (~4 sequential jobs
    per rank at bench scale; guide §1.2 step 1: the distributed
    algorithm).  Arithmetic is unchanged: the same round-6 pair cosines,
    the same exact-decimal mmr combine, the same (mmr, -vec_id) argmax —
    now via array_max over structs instead of a max-aggregate."""
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)  # noqa: E731
    norm = lambda a: F.sqrt(  # noqa: E731
        fold(F.transform(a, lambda x: x.cast("double") * x.cast("double")))
    )
    # evaluate the norm ONCE per row (array_repeat arg), not once per
    # element: Spark never hoists loop-invariant expressions out of a
    # higher-order lambda, so `transform(a, x -> x/norm(a))` is O(d^2)
    # per vector.  x/n is the identical IEEE division -> bit-stable.
    unit = lambda a: F.zip_with(  # noqa: E731
        a, F.array_repeat(norm(a), F.size(a)), lambda x, n: x.cast("double") / n
    )

    scored = _scored_queries(emb, query_mod)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    short = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= shortlist)
        .select("qid", "vec_id", "cos")
    )
    # normalize AFTER the shortlist join: only Q*shortlist rows survive
    # it, so evaluating unit() post-join skips a full-corpus O(N*d)
    # normalization pass (guide §1.2 step 1 — don't compute what you
    # throw away); same expression on the same values, bit-identical
    cands_g = (
        short.join(emb.select("vec_id", "embedding"), "vec_id")
        .select("qid", "vec_id", "cos", unit(F.col("embedding")).alias("u"))
        .groupBy("qid")
        .agg(
            F.array_sort(F.collect_list(F.struct("vec_id", "cos", "u"))).alias(
                "cands"
            )
        )
    )

    dec6 = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    lam_d = F.lit(lam).cast("decimal(2,1)")
    mu_d = F.lit(round(1.0 - lam, 10)).cast("decimal(2,1)")
    # mmr's exact decimal type: decimal(2,1)*decimal(18,6) -> (21,7);
    # (21,7)-(21,7) -> (22,7) — the type the selected-set struct carries
    mmr_t = "decimal(22,7)"

    def greedy(cands):
        # rank-1: pure-relevance argmax, max(struct(cos, -vec_id))
        first = F.array_max(
            F.transform(
                cands,
                lambda c: F.struct(
                    c["cos"].alias("cos"),
                    (-c["vec_id"]).alias("nv"),
                    c["u"].alias("u"),
                ),
            )
        )
        sel0 = F.array(
            F.struct(
                (-first["nv"]).alias("vec_id"),
                first["cos"].alias("rel_cos"),
                F.lit(None).cast(mmr_t).alias("mmr"),
                F.lit(1).cast("int").alias("rank"),
                first["u"].alias("u"),
            )
        )
        rem0 = F.filter(cands, lambda c: c["vec_id"] != -first["nv"])
        zero = F.struct(sel0.alias("sel"), rem0.alias("rem"))

        def step(acc, t):
            # max over the selected set of the shared round-6 pair cosine
            maxsim = lambda c: F.array_max(  # noqa: E731
                F.transform(
                    acc["sel"],
                    lambda sl: F.round(
                        fold(F.zip_with(c["u"], sl["u"], lambda x, y: x * y)), 6
                    ),
                )
            )
            pick = F.array_max(
                F.transform(
                    acc["rem"],
                    lambda c: F.struct(
                        (lam_d * dec6(c["cos"]) - mu_d * dec6(maxsim(c))).alias(
                            "mmr"
                        ),
                        (-c["vec_id"]).alias("nv"),
                        c["cos"].alias("cos"),
                        c["u"].alias("u"),
                    ),
                )
            )
            new_sel = F.concat(
                acc["sel"],
                F.array(
                    F.struct(
                        (-pick["nv"]).alias("vec_id"),
                        pick["cos"].alias("rel_cos"),
                        pick["mmr"].alias("mmr"),
                        t.cast("int").alias("rank"),
                        pick["u"].alias("u"),
                    )
                ),
            )
            new_rem = F.filter(acc["rem"], lambda c: c["vec_id"] != -pick["nv"])
            # a query whose shortlist ran dry keeps its state (emits < k)
            return F.when(
                F.size(acc["rem"]) > 0,
                F.struct(new_sel.alias("sel"), new_rem.alias("rem")),
            ).otherwise(acc)

        if k < 2:
            return zero
        return F.aggregate(
            F.sequence(F.lit(2), F.lit(k)), zero, step
        )

    out = (
        cands_g.select("qid", greedy(F.col("cands")).alias("st"))
        .select("qid", F.explode(F.col("st")["sel"]).alias("s"))
        .select(
            "qid",
            F.col("s")["rank"].cast("int").alias("rank"),
            F.col("s")["vec_id"].alias("vec_id"),
            F.col("s")["rel_cos"].alias("rel_cos"),
            F.when(F.col("s")["rank"] == 1, F.col("s")["rel_cos"])
            .otherwise(F.col("s")["mmr"].cast("double"))
            .alias("mmr_score"),
        )
    )
    return out.orderBy("qid", "rank")


def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mmr_diversify(load_table(spark, sf_dir, "embeddings"))


def _mmr_sql(
    k: int = MMR_K,
    shortlist: int = MMR_SHORTLIST,
    lam: float = MMR_LAMBDA,
) -> str:
    parts = [
        _RETRIEVAL_SCORED_CTES,
        f"""short AS (
  SELECT qid, vec_id, cos
  FROM (SELECT qid, vec_id, cos,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        FROM scored)
  WHERE rk <= {shortlist}
),
pairs AS (
  SELECT s1.qid, s1.vec_id AS a, s2.vec_id AS b,
    round(list_aggregate(list_transform(range(1, len(ua.u) + 1),
          i -> ua.u[i] * ub.u[i]), 'sum'), 6) AS sim
  FROM short s1
  JOIN short s2 ON s1.qid = s2.qid AND s1.vec_id <> s2.vec_id
  JOIN corpus ua ON ua.vec_id = s1.vec_id
  JOIN corpus ub ON ub.vec_id = s2.vec_id
),
sel1 AS (
  SELECT qid, vec_id, cos AS rel_cos, cos AS mmr_score, 1 AS rank
  FROM (SELECT qid, vec_id, cos,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM short)
  WHERE rn = 1
),
selall1 AS (SELECT * FROM sel1)""",
    ]
    for t in range(2, k + 1):
        parts.append(
            f"""ms{t} AS (
  SELECT c.qid, c.vec_id, c.cos,
    CAST({lam} AS DECIMAL(2,1)) * CAST(c.cos AS DECIMAL(18,6))
      - CAST({round(1.0 - lam, 10)} AS DECIMAL(2,1)) * CAST(max(p.sim) AS DECIMAL(18,6)) AS mmr
  FROM short c
  JOIN pairs p ON p.qid = c.qid AND p.a = c.vec_id
  JOIN selall{t - 1} x ON x.qid = p.qid AND x.vec_id = p.b
  WHERE NOT EXISTS (SELECT 1 FROM selall{t - 1} y
                    WHERE y.qid = c.qid AND y.vec_id = c.vec_id)
  GROUP BY c.qid, c.vec_id, c.cos
),
sel{t} AS (
  SELECT qid, vec_id, cos AS rel_cos, CAST(mmr AS DOUBLE) AS mmr_score, {t} AS rank
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, vec_id) AS rn
        FROM ms{t})
  WHERE rn = 1
),
selall{t} AS (SELECT * FROM selall{t - 1} UNION ALL SELECT * FROM sel{t})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, rel_cos, mmr_score
FROM selall{k}
ORDER BY qid, rank
"""
    )


# ---------------------------------------------------------------------------
# sparse (BM25) retrieval evaluation — the lexical counterpart to
# retrieval_eval, graded by the SAME planted-relevance metric rollup
# ---------------------------------------------------------------------------

BM25_QUERY_MOD = 500  # doc_id % 500 == 0 is the query subset
BM25_QUERY_TERMS = 5  # rarest-df terms kept per query


def bm25_retrieval_eval(
    docs: DataFrame,
    k: int = RETRIEVAL_K,
    query_mod: int = BM25_QUERY_MOD,
    n_terms: int = BM25_QUERY_TERMS,
) -> DataFrame:
    """Recall@k / MRR / nDCG@k for LEXICAL retrieval: each query document
    retrieves from the corpus by integer-exact Okapi BM25 (the
    `text_bm25` cleared-fraction formula, `text.py` — k1=1.2, b=0.75,
    integer idf surrogate), graded per source by the SAME
    `_retrieval_metrics` rollup and planted relevance the dense eval
    uses (relevant iff same `source`, self excluded) — so the sparse and
    dense retrieval stacks publish directly comparable score tables.

    Query representation: the ``n_terms`` rarest corpus terms of the
    query doc (df asc, term asc — deterministic), the standard
    distinctive-term selection that keeps Σ|posting| bounded when a
    query document is long.  Lexical honesty (the ANN-probe precedent):
    a query whose terms match no other document retrieves nothing and
    drops out of its source's n_queries — real sparse-retrieval
    behavior the report must surface, not paper over (the oracle's
    inner joins reproduce it).

    Scale: postings are pruned to the query-term set BEFORE the tf
    aggregation (broadcast semi-join); df and the T/N scalars are
    O(terms)/O(1) broadcasts; the scoring join is posting-list shaped
    (Σ over query terms of |posting(t)| — df-bounded in a real corpus;
    the synthetic fixture's degenerate shared vocabulary is why
    query_mod keeps |Q| small here); top-k is a per-qid partitioned
    window over scored candidates.  All scores are BIGINT (the
    `text_bm25` discipline), so ranking hash-matches the oracle."""
    from realparse_spark.operators.text import token_count_ws, ws_tokens

    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    is_q = F.pmod(F.col("doc_id"), F.lit(query_mod)) == 0
    # qt_all / ptf / lens each feed TWO consumers below (term_set+qt,
    # dfreq+scored, tot+scored) — without cuts every consumer re-runs
    # the corpus tokenize pass (guide §2.4); each materialized table is
    # the compact post-aggregation form, never raw text
    qt_all = (
        toks.filter(is_q)
        .select(F.col("doc_id").alias("qid"), "term")
        .distinct()
        .localCheckpoint(eager=False)
    )
    term_set = qt_all.select("term").distinct()
    ptf = (
        toks.join(F.broadcast(term_set), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = ptf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    wq = Window.partitionBy("qid").orderBy(F.col("df").asc(), F.col("term"))
    qt = (
        qt_all.join(F.broadcast(dfreq), "term")
        .withColumn("trk", F.row_number().over(wq))
        .filter(F.col("trk") <= n_terms)
        .select("qid", "term")
    )
    lens = docs.select(
        "doc_id",
        token_count_ws(F.lower(F.col("text"))).cast("bigint").alias("len_d"),
    ).localCheckpoint(eager=False)
    tot = lens.agg(
        F.sum("len_d").cast("bigint").alias("t_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    scored = (
        qt.join(ptf, "term")
        .join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("doc_id") != F.col("qid"))
        .select(
            "qid",
            "doc_id",
            F.expr(
                "(100000 div (df + 1)) * 22 * tf * t_tokens"
                " div (10 * tf * t_tokens + 3 * t_tokens + 9 * len_d * n_docs)"
            ).alias("s"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("s").cast("bigint").alias("score"))
    )
    wr = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id"))
    src = docs.select("doc_id", "source")
    top = (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .join(
            F.broadcast(
                docs.filter(is_q).select(
                    F.col("doc_id").alias("qid"), F.col("source").alias("q_label")
                )
            ),
            "qid",
        )
        .join(src.withColumnRenamed("source", "label"), "doc_id")
        .select("qid", "q_label", "label", "rk")
    )
    labn = docs.groupBy(F.col("source").alias("label")).agg(
        F.count(F.lit(1)).cast("int").alias("n_label")
    )
    return _retrieval_metrics(top, labn, k)


def q_bm25_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_retrieval_eval(load_table(spark, sf_dir, "documents"))


BM25_RETRIEVAL_EVAL_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents
),
qt_all AS (
  SELECT DISTINCT doc_id AS qid, term FROM toks WHERE doc_id % {BM25_QUERY_MOD} = 0
),
ptf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qt_all)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM ptf GROUP BY term),
qt AS (
  SELECT qid, term FROM (
    SELECT q.qid, q.term,
      row_number() OVER (PARTITION BY q.qid ORDER BY d.df ASC, q.term) AS trk
    FROM qt_all q JOIN dfreq d USING (term))
  WHERE trk <= {BM25_QUERY_TERMS}
),
lens AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))
         AS BIGINT) AS len_d
  FROM documents
),
tot AS (
  SELECT CAST(sum(len_d) AS BIGINT) AS t_tokens,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM lens
),
scored AS (
  SELECT qid, doc_id, CAST(sum(s) AS BIGINT) AS score FROM (
    SELECT qt.qid, ptf.doc_id,
      (100000 // (df + 1)) * 22 * tf * t_tokens
        // (10 * tf * t_tokens + 3 * t_tokens + 9 * len_d * n_docs) AS s
    FROM qt
    JOIN ptf USING (term)
    JOIN dfreq USING (term)
    JOIN lens ON ptf.doc_id = lens.doc_id
    CROSS JOIN tot
    WHERE ptf.doc_id <> qt.qid)
  GROUP BY qid, doc_id
),
top AS (
  SELECT s.qid, dq.source AS q_label, dc.source AS label, s.rk
  FROM (SELECT qid, doc_id,
          row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
        FROM scored QUALIFY rk <= {RETRIEVAL_K}) s
  JOIN documents dq ON dq.doc_id = s.qid
  JOIN documents dc ON dc.doc_id = s.doc_id
),
labn AS (SELECT source AS label, CAST(count(*) AS INTEGER) AS n_label FROM documents GROUP BY 1),
perq AS (
  SELECT qid, q_label,
    CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS INTEGER) AS hits,
    min(CASE WHEN label = q_label THEN rk END) AS first_rel,
    sum(CASE WHEN label = q_label
        THEN CAST(([{", ".join(repr(x) for x in _DCG_W)}])[rk] AS DECIMAL(18,9))
        ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg
  FROM top GROUP BY 1, 2
),
met AS (
  SELECT q_label,
    CAST(CASE WHEN n_label - 1 > 0
      THEN round(hits / (n_label - 1), 6) ELSE 0 END AS DECIMAL(12,6)) AS recall,
    CAST(coalesce(round(CAST(1 AS DOUBLE) / first_rel, 6), 0) AS DECIMAL(12,6)) AS mrr,
    CAST(CASE WHEN n_label - 1 > 0
      THEN round(CAST(dcg AS DOUBLE)
           / ([{", ".join(repr(x) for x in _IDCG)}])[least(n_label - 1, {RETRIEVAL_K})], 6)
      ELSE 0 END AS DECIMAL(12,6)) AS ndcg
  FROM perq JOIN labn ON perq.q_label = labn.label
)
SELECT q_label AS label,
  CAST(count(*) AS BIGINT) AS n_queries,
  round(CAST(sum(recall) AS DOUBLE) / count(*), 6) AS recall_at_k,
  round(CAST(sum(mrr) AS DOUBLE) / count(*), 6) AS mrr,
  round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6) AS ndcg_at_k
FROM met GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "sim_topk_cosine": q_sim_topk,
    "sim_ann_lsh": q_sim_ann,
    "sim_ann_lsh_batch": q_sim_ann_batch,
    "emb_knn_join": q_knn_join,
    "emb_matryoshka_eval": q_emb_matryoshka,
    "retrieval_eval": q_retrieval_eval,
    # ANN-probe evaluation: rows-only (LCG hyperplane sketches); the
    # metric arithmetic is hash-verified via retrieval_eval's oracle and
    # the shared _retrieval_metrics rollup; gates in test_similarity
    "retrieval_eval_ann": q_retrieval_eval_ann,
    "hard_negative_mining": q_hard_negative_mining,
    "bm25_retrieval_eval": q_bm25_retrieval_eval,
    "mmr_diversify": q_mmr_diversify,
    "emb_isotropy": q_emb_isotropy,
    "emb_dim_variance": q_emb_dim_variance,
}

ORACLES = {
    "sim_topk_cosine": SIM_TOPK_SQL,
    # sim_ann_lsh is approximate by design -> rows-only driver check; its
    # probe is tied to ann_lsh_topk and to topk_cosine (recall and exact
    # scores) in tests/test_similarity.py.
    "emb_knn_join": EMB_KNN_JOIN_SQL,
    "emb_matryoshka_eval": EMB_MATRYOSHKA_SQL,
    "retrieval_eval": RETRIEVAL_EVAL_SQL,
    "hard_negative_mining": HARD_NEGATIVES_SQL,
    "bm25_retrieval_eval": BM25_RETRIEVAL_EVAL_SQL,
    "mmr_diversify": _mmr_sql(),
    "emb_isotropy": EMB_ISOTROPY_SQL,
    "emb_dim_variance": EMB_DIM_VARIANCE_SQL,
}
