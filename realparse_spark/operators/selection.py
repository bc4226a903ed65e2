"""Training-data SELECTION operators — the decide-what-to-train-on family
that sits between the curation metrics (corpus_quality.py, text.py) and
the mixing/packing ops (pipeline_ops.py):

- `dsir_importance`: importance weights for target-domain data selection
  (Xie et al. 2023, "Data Selection for Language Models via Importance
  Resampling" — arXiv:2302.03169): per-document average log-ratio of a
  target vs raw bigram distribution over a capped feature vocabulary.
- `semdedup`: semantic deduplication (Abbas et al. 2023, "SemDeDup" —
  arXiv:2303.09540): cluster embeddings, then drop near-identical
  members within each cluster, keeping the member farthest from the
  centroid.  Candidate pairs are CLUSTER-blocked — never all-pairs.
- `ccnet_ppl_buckets`: CCNet-style head/middle/tail split per source by
  LM score (Wenzek et al. 2020, "CCNet: Extracting High Quality
  Monolingual Datasets" — the per-language perplexity-tertile split),
  using the corpus-self-scored bigram LM from text.py.

Reference parity note: the RealParse reference (real_parse.pl /
pull_report.pl) has no selection surface at all — these extend the
engine toward the 100 TB training-data pipeline the brief targets.

Scale notes (audited per operator below): one explode each, map-side
combined vocab aggregates, O(K)/O(clusters) broadcast tables, and the
per-source rank runs on `rank_distributed` (no corpus-scale
single-partition window anywhere — blanket-gated in
tests/test_plan_quality.py like every other module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realparse_spark.operators.distrank import rank_distributed
from realparse_spark.operators.text import bigram_array
from realparse_spark.sources.tables import fan_out, load_table

# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

DSIR_TOP_K = 2000
DSIR_TARGET_SOURCE = "src0"


def dsir_importance(
    docs: DataFrame,
    target_source: str = DSIR_TARGET_SOURCE,
    top_k: int = DSIR_TOP_K,
) -> DataFrame:
    """Per-document DSIR importance score: the average, over the
    document's bigram occurrences, of ln(p_target(f) / p_raw(f)) with
    add-1 smoothing over a shared top-`top_k` feature vocabulary.
    Documents that score high look like the target domain; resampling
    by these weights is the DSIR selection step.

    Exactness: the smoothed ratio is ONE ln of an exact-integer ratio —
    ln((cnt_t+1)·(R+K) / ((cnt_r+1)·(T+K))) with all four factors
    BIGINT — so both engines evaluate the identical double.  (At fixture
    scales the int64 products stay ~1e12; a 100 TB corpus overflows
    them, so the production variant casts the two factors to DOUBLE
    before multiplying — one rounding each — or sums in DECIMAL(38,0).)
    Per-doc scores round to 6 (the text.py logprob discipline).

    Fit/score split (the paper's shape): `dsir_fit` estimates the K-row
    log-ratio table from a corpus; `dsir_score` applies a (broadcast)
    ratio table to any corpus.  Production fits on held-out target/raw
    SAMPLES and scores the full 100 TB corpus against the frozen table;
    the driver query self-fits for a deterministic single-table oracle.

    Scale shape: ONE bigram explode per phase; the vocabulary aggregate
    is a map-side-combined groupBy(bg); top-K is ORDER BY + LIMIT
    (TakeOrdered — per-partition heaps, no global sort); the K-row
    log-ratio table and the 1-row totals broadcast; the score is one
    groupBy(doc_id).  Documents whose bigrams are all out-of-vocabulary
    (or that have <2 tokens) carry no evidence either way and are
    omitted — deterministic in both engines.  Self-fit shares ONE
    materialized tf table between the fit and the score (the explode
    subtree would otherwise re-evaluate per consumer)."""
    tf = _bigram_tf(docs).localCheckpoint(eager=False)
    return _score_tf(tf, _fit_tf(tf, target_source, top_k))


def _bigram_tf(docs: DataFrame) -> DataFrame:
    return (
        docs.select(
            "doc_id",
            "source",
            F.explode(bigram_array(F.col("text"))).alias("bg"),
        )
        .groupBy("doc_id", "source", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def dsir_fit(
    docs: DataFrame,
    target_source: str = DSIR_TARGET_SOURCE,
    top_k: int = DSIR_TOP_K,
) -> DataFrame:
    """(bg, llr): the smoothed target-vs-raw log-ratio over the top-K
    shared vocabulary — the frozen scorer table."""
    return _fit_tf(_bigram_tf(docs), target_source, top_k)


def _fit_topk(tf: DataFrame, target_source: str, top_k: int) -> DataFrame:
    """The pre-checkpoint top-K vocabulary stage, split out (like
    semdedup's `_assign_and_score`) so plan gates can assert the
    TakeOrdered — the checkpoint in `_fit_tf` truncates it from the
    final query plan."""
    is_t = F.col("source") == target_source
    vocab = tf.groupBy("bg").agg(
        F.sum(F.when(is_t, F.col("tf")).otherwise(0)).cast("bigint").alias("cnt_t"),
        F.sum(F.when(~is_t, F.col("tf")).otherwise(0)).cast("bigint").alias("cnt_r"),
        F.sum("tf").cast("bigint").alias("total"),
    )
    return vocab.orderBy(F.col("total").desc(), "bg").limit(top_k)


def _fit_tf(tf: DataFrame, target_source: str, top_k: int) -> DataFrame:
    # topk feeds BOTH the totals aggregate and the ratio projection — the
    # K-row materialization stops the full-corpus vocab aggregation above
    # from running once per consumer (plan read: the groupBy(bg) +
    # TakeOrdered subtree appeared twice, the 2nd feeding totals' 1-row
    # broadcast; guide §2.4)
    topk = _fit_topk(tf, target_source, top_k).localCheckpoint(eager=False)
    totals = topk.agg(
        F.sum("cnt_t").cast("bigint").alias("t_tot"),
        F.sum("cnt_r").cast("bigint").alias("r_tot"),
    )
    k = F.lit(top_k).cast("bigint")
    return topk.crossJoin(F.broadcast(totals)).select(
        "bg",
        F.log(
            ((F.col("cnt_t") + 1) * (F.col("r_tot") + k)).cast("double")
            / ((F.col("cnt_r") + 1) * (F.col("t_tot") + k))
        ).alias("llr"),
    )


def dsir_score(docs: DataFrame, ratio: DataFrame) -> DataFrame:
    """Apply a fitted (bg, llr) ratio table to a corpus: per-doc average
    llr over in-vocabulary bigram occurrences, rounded to 6."""
    return _score_tf(_bigram_tf(docs), ratio)


def _score_tf(tf: DataFrame, ratio: DataFrame) -> DataFrame:
    return (
        tf.join(F.broadcast(ratio), "bg")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("tf").cast("bigint").alias("n_feats"),
            F.round(F.sum(F.col("tf") * F.col("llr")) / F.sum("tf"), 6).alias(
                "score"
            ),
        )
    )


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the bigram explode over a single-row-group fixture scan
    # would otherwise run one task (production inputs arrive as splits)
    return dsir_importance(fan_out(load_table(spark, sf_dir, "documents")))


# shared CTE chain ending in `scored` — DSIR_IMPORTANCE_SQL selects it
# directly; DSIR_RESAMPLE_SQL extends it with the Gumbel-key top-n
_DSIR_SCORED_CTES = rf"""
WITH tk AS (
  SELECT doc_id, source,
    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, source,
    unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM tk
),
tf AS (SELECT doc_id, source, bg, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
vocab AS (
  SELECT bg,
    CAST(sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN tf ELSE 0 END) AS BIGINT) AS cnt_t,
    CAST(sum(CASE WHEN source <> '{DSIR_TARGET_SOURCE}' THEN tf ELSE 0 END) AS BIGINT) AS cnt_r,
    CAST(sum(tf) AS BIGINT) AS total
  FROM tf GROUP BY bg
),
topk AS (SELECT * FROM vocab ORDER BY total DESC, bg LIMIT {DSIR_TOP_K}),
tot AS (
  SELECT CAST(sum(cnt_t) AS BIGINT) AS t_tot, CAST(sum(cnt_r) AS BIGINT) AS r_tot
  FROM topk
),
ratio AS (
  SELECT bg,
    ln(CAST((cnt_t + 1) * (r_tot + {DSIR_TOP_K}) AS DOUBLE)
       / ((cnt_r + 1) * (t_tot + {DSIR_TOP_K}))) AS llr
  FROM topk CROSS JOIN tot
),
scored AS (
  SELECT tf.doc_id, tf.source,
    CAST(sum(tf) AS BIGINT) AS n_feats,
    round(sum(tf * llr) / sum(tf), 6) AS score
  FROM tf JOIN ratio USING (bg)
  GROUP BY tf.doc_id, tf.source
)"""

DSIR_IMPORTANCE_SQL = (
    _DSIR_SCORED_CTES + "\nSELECT doc_id, source, n_feats, score FROM scored\n"
)


DSIR_RESAMPLE_N = 100


def dsir_resample(scored: DataFrame, n: int = DSIR_RESAMPLE_N) -> DataFrame:
    """The DSIR paper's third step: sample `n` documents WITHOUT
    replacement with probability ∝ exp(score) via Gumbel-top-k (Vieira
    2014; Kool et al. 2019, arXiv:1903.06059): key = score + Gumbel
    noise, take the top-n keys.  The Gumbel draw is DETERMINISTIC — the
    doc_split md5 discipline (pipeline_ops.py:34): u = (md5-bucket + 1)
    / (2^32 + 1) ∈ (0,1), g = -ln(-ln(u)) — so reruns, retries and the
    DuckDB oracle reproduce the identical sample (a pipeline re-entry
    must not silently swap the training set).

    Scale: one narrow projection over the scored table + TakeOrdered
    per-partition heaps for the top-n — no global sort, no shuffle
    beyond the final n-row gather."""
    b = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (b + F.lit(1)).cast("double") / F.lit(4294967297.0)
    key = F.round(F.col("score") + -F.log(-F.log(u)), 6)
    return (
        scored.select("doc_id", "source", "score", key.alias("sel_key"))
        .orderBy(F.col("sel_key").desc(), "doc_id")
        .limit(n)
    )


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return dsir_resample(dsir_importance(docs))


DSIR_RESAMPLE_SQL = (
    _DSIR_SCORED_CTES
    + rf""",
keyed AS (
  SELECT doc_id, source, score,
    round(score + -ln(-ln(
      (CAST('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
      / 4294967297.0)), 6) AS sel_key
  FROM scored
)
SELECT doc_id, source, score, sel_key
FROM keyed ORDER BY sel_key DESC, doc_id LIMIT {DSIR_RESAMPLE_N}
"""
)


# ---------------------------------------------------------------------------
# SemDeDup: cluster-blocked semantic dedup
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.35  # fixture-calibrated like dedup_embedding (dedup.py:900)


def _argmin_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """MAP-ONLY Lloyd assignment: the O(K·dim) centroid table collapses
    to ONE row (collect_list of (cluster_id, cvec) structs), broadcasts,
    and each vector picks its cluster IN-ROW — array_min over
    (d2, cluster_id, cvec) structs, whose lexicographic struct ordering
    IS the (d2 round 6, cluster_id) argmin the old per-vector window
    computed.  Replaces crossJoin(K rows) + row_number window: the
    window repartitioned the K-times-inflated candidate set by vec_id
    and sorted it — a corpus-sized shuffle PER ITERATION that a 100 TB
    assignment step cannot afford; this version is a pure scan (the only
    join is a 1-row broadcast nested loop).  F.inline evaluates the
    argmin struct ONCE per row (a 3-field select would re-evaluate the
    array_min per field after projection collapse).

    Returns (vec_id, embedding, cluster_id, d2, cvec)."""
    dim_sq = lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)  # noqa: E731
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)  # noqa: E731

    packed = cents.agg(F.collect_list(F.struct("cluster_id", "cvec")).alias("cts"))
    best = F.array_min(
        F.transform(
            F.col("cts"),
            lambda c: F.struct(
                F.round(
                    fold(F.zip_with(F.col("embedding"), c["cvec"], dim_sq)), 6
                ).alias("d2"),
                c["cluster_id"].alias("cluster_id"),
                c["cvec"].alias("cvec"),
            ),
        )
    )
    return emb.select("vec_id", "embedding").crossJoin(F.broadcast(packed)).select(
        "vec_id", "embedding", F.inline(F.array(best))
    )


def _assign_and_score(emb: DataFrame) -> DataFrame:
    """(vec_id, cluster_id, u, cent_cos): label-prior centroids, one
    map-only Lloyd reassignment (`_argmin_assign`), unit vectors, and
    the rounded centroid-cosine for the keep rule.  Split out
    (pre-localCheckpoint) so plan gates can see the broadcast assignment
    join — the checkpoint in `semdedup` truncates it."""
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)  # noqa: E731
    dot = lambda a, b: fold(F.zip_with(a, b, lambda x, y: x * y))  # noqa: E731
    norm = lambda a: F.sqrt(fold(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))  # noqa: E731

    assigned = _argmin_assign(emb, _label_prior_centroids(emb))
    ecol = F.col("embedding")
    return assigned.select(
        "vec_id",
        "cluster_id",
        # norm evaluated once per row (see similarity.py unit note)
        F.zip_with(
            ecol,
            F.array_repeat(norm(ecol), F.size(ecol)),
            lambda x, n: x.cast("double") / n,
        ).alias("u"),
        F.round(
            dot(F.transform(ecol, lambda x: x.cast("double")), F.col("cvec"))
            / (norm(ecol) * norm(F.col("cvec"))),
            6,
        ).alias("cent_cos"),
    )


SEMDEDUP_MAX_CLUSTER = 1000


def semdedup_pairs(
    scored: DataFrame, tau: float, max_cluster: int = SEMDEDUP_MAX_CLUSTER
) -> DataFrame:
    """(cluster_id, vec_a, vec_b, loser) near-dup pairs over a
    (vec_id, cluster_id, u, cent_cos) table from `_assign_and_score`.
    In clusters at/below `max_cluster` the loser is the member CLOSER
    to the centroid (higher cent_cos) — SemDeDup keeps the informative
    extremes; a cent_cos tie drops vec_b, which is always the higher
    vec_id under the vec_a < vec_b pair orientation.  In hot (capped)
    clusters the loser is the SPOKE — see the skew-guard paragraph.
    Exposed so tests can assert loser IDENTITY, not just counts.

    Skew guard (the minhash_lsh_pairs max_bucket policy, dedup.py): a
    cluster with B members would emit B²/2 rows from the all-pairs
    self-join, and at 100 TB a boilerplate-heavy hot cluster is the
    norm.  Clusters larger than `max_cluster` switch to STAR pairs —
    every other member paired with the cluster's HUB, the
    highest-cent_cos member (ties: lowest vec_id).  Candidates become
    O(B) per hot cluster; the hub is the member most representative of
    the cluster's center, so near-dup spokes stay connected through it.
    In star pairs the SPOKE is the loser and the hub is the cluster's
    canonical kept representative: applying the small-cluster keep rule
    (drop the closer-to-centroid side) to star pairs would make the hub
    — by construction the highest-cent_cos member — the loser of
    virtually every pair, collapsing n_dropped to ~1 in exactly the
    boilerplate-heavy clusters the cap guards (round-10 ADVICE).  With
    spoke-loses, a hot cluster of B near-identical docs drops B-1, the
    same count the uncapped all-pairs rule converges to.  The trade-off
    is pairwise completeness inside hot clusters: spoke-spoke
    duplicates that are NOT near the hub go unreported — documented,
    tested (test_selection.py hot-cluster gate), and identical
    cluster-size cutover + loser rule in the DuckDB oracle so parity
    holds at any fixture scale."""
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    # cluster size + hub flag in ONE window pass over the partitioning
    # the pair join needs anyway — no extra shuffle vs a groupBy+join
    w_c = Window.partitionBy("cluster_id")
    w_hub = Window.partitionBy("cluster_id").orderBy(F.desc("cent_cos"), "vec_id")
    marked = scored.select(
        "vec_id",
        "cluster_id",
        "u",
        "cent_cos",
        F.count(F.lit(1)).over(w_c).alias("_sz"),
        F.row_number().over(w_hub).alias("_hubrn"),
    )

    def oriented(joined: DataFrame) -> DataFrame:
        cos = F.round(dot(F.col("ua"), F.col("ub")), 4)
        return (
            joined.withColumn("cos", cos)
            .filter(F.col("cos") >= tau)
            .select(
                "cluster_id",
                "vec_a",
                "vec_b",
                F.when(F.col("cc_a") > F.col("cc_b"), F.col("vec_a"))
                .otherwise(F.col("vec_b"))
                .alias("loser"),
            )
        )

    small = marked.filter(F.col("_sz") <= max_cluster)
    a = small.select(
        F.col("vec_id").alias("vec_a"),
        "cluster_id",
        F.col("u").alias("ua"),
        F.col("cent_cos").alias("cc_a"),
    )
    b = small.select(
        F.col("vec_id").alias("vec_b"),
        "cluster_id",
        F.col("u").alias("ub"),
        F.col("cent_cos").alias("cc_b"),
    )
    small_pairs = oriented(a.join(b, "cluster_id").filter(F.col("vec_a") < F.col("vec_b")))

    hot = marked.filter(F.col("_sz") > max_cluster)
    hubs = hot.filter(F.col("_hubrn") == 1).select(
        "cluster_id",
        F.col("vec_id").alias("hub_id"),
        F.col("u").alias("hub_u"),
    )
    # O(hot clusters) rows — broadcast; spokes stream past it linearly.
    # Loser is the SPOKE unconditionally (see docstring): the hub is the
    # cluster's canonical representative and must survive every pair.
    spokes = hot.filter(F.col("_hubrn") > 1).join(F.broadcast(hubs), "cluster_id")
    star_pairs = (
        spokes.withColumn("cos", F.round(dot(F.col("u"), F.col("hub_u")), 4))
        .filter(F.col("cos") >= tau)
        .select(
            "cluster_id",
            F.least("vec_id", "hub_id").alias("vec_a"),
            F.greatest("vec_id", "hub_id").alias("vec_b"),
            F.col("vec_id").alias("loser"),
        )
    )
    return small_pairs.unionByName(star_pairs)


def semdedup(emb: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """SemDeDup over an embedding table: (1) centroids from the coarse
    `label` prior (exact-decimal mean per dimension — the emb_centroids
    discipline, advanced.py:1151), (2) ONE Lloyd reassignment step —
    each vector moves to its nearest centroid by L2, so the blocking key
    is COMPUTED, not given, (3) within each cluster, pairs with cosine
    ≥ tau are near-duplicates and the member CLOSER to the centroid is
    dropped (SemDeDup's keep-farthest-from-centroid rule — it keeps the
    informative extremes), ties dropping the higher vec_id; clusters
    above the hot-cluster cap switch to star pairs where the spoke is
    dropped and the hub kept (`semdedup_pairs`).  Returns a per-cluster
    audit: n_vecs, n_dup_pairs, n_dropped, n_kept.

    Determinism: centroid components round to 6; L2 distances round to
    6 with (d2, cluster_id) lexicographic argmin; pair cosines round to
    4 (dedup_embedding convention); centroid-cosines round to 6 before
    the keep comparison.  All folds are sequential left folds —
    bit-stable across engines.

    Scale: the centroid table is O(clusters · dim) and broadcasts; the
    assignment is a broadcast nested-loop over K centroids (linear in
    corpus, never quadratic); pairwise work is Σ min(|cluster|, cap)·
    |cluster| — clusters above `semdedup_pairs`' max_cluster emit O(B)
    STAR pairs against the cluster hub instead of B²/2 (the
    minhash_lsh_pairs max_bucket policy), so one boilerplate-heavy hot
    cluster cannot own the job."""
    # ONE materialization shared by both sides of the pair self-join and
    # the base counts (the rank_distributed discipline, distrank.py:73):
    # without it the crossJoin+argmin assignment re-evaluates per consumer
    scored = _assign_and_score(emb).localCheckpoint(eager=False)
    pairs = semdedup_pairs(scored, tau)
    base = scored.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    pair_agg = pairs.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
        F.count_distinct("loser").cast("bigint").alias("n_dropped"),
    )
    return (
        base.join(pair_agg, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_vecs",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce("n_dropped", F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("cluster_id")
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup(fan_out(load_table(spark, sf_dir, "embeddings")))


SEMDEDUP_SQL = rf"""
WITH long AS (
  SELECT label,
    unnest(range(0, len(embedding))) AS pos,
    unnest(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)))) AS v
  FROM embeddings
),
cent_long AS (
  SELECT label, pos, round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS c
  FROM long GROUP BY label, pos
),
cents AS (
  SELECT label AS cluster_id, list(c ORDER BY pos) AS cvec
  FROM cent_long GROUP BY label
),
cand AS (
  SELECT e.vec_id, e.embedding, c.cluster_id, c.cvec,
    round(list_aggregate(list_transform(range(1, len(e.embedding) + 1),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), 'sum'), 6) AS d2
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cluster_id, embedding, cvec
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn FROM cand)
  WHERE rn = 1
),
scored AS (
  SELECT vec_id, cluster_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)
      / sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS u,
    round(
      list_aggregate(list_transform(range(1, len(embedding) + 1),
        i -> CAST(embedding[i] AS DOUBLE) * cvec[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))
         * sqrt(list_aggregate(list_transform(cvec, y -> y * y), 'sum'))), 6) AS cent_cos
  FROM assigned
),
marked AS (
  SELECT *,
    count(*) OVER (PARTITION BY cluster_id) AS sz,
    row_number() OVER (PARTITION BY cluster_id
                       ORDER BY cent_cos DESC, vec_id) AS hubrn
  FROM scored
),
pairs AS (
  -- loser = member closer to the centroid; a tie drops b.vec_id, the
  -- higher id under the a.vec_id < b.vec_id orientation.  Clusters
  -- above the hot-cluster cap switch to STAR pairs against the hub
  -- (hubrn = 1) where the SPOKE is the loser — the hub is the cluster's
  -- canonical kept representative.  Identical cutover + loser rule to
  -- semdedup_pairs' max_cluster
  SELECT a.cluster_id,
    CASE WHEN a.cent_cos > b.cent_cos THEN a.vec_id ELSE b.vec_id END AS loser
  FROM marked a JOIN marked b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE a.sz <= {SEMDEDUP_MAX_CLUSTER}
    AND round(list_aggregate(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i]), 'sum'), 4) >= {SEMDEDUP_TAU}
  UNION ALL
  SELECT h.cluster_id, m.vec_id AS loser
  FROM marked h JOIN marked m
    ON h.cluster_id = m.cluster_id AND h.hubrn = 1 AND m.hubrn > 1
  WHERE h.sz > {SEMDEDUP_MAX_CLUSTER}
    AND round(list_aggregate(list_transform(range(1, len(h.u) + 1), i -> m.u[i] * h.u[i]), 'sum'), 4) >= {SEMDEDUP_TAU}
),
base AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY 1),
pagg AS (
  SELECT cluster_id,
    CAST(count(*) AS BIGINT) AS n_dup_pairs,
    CAST(count(DISTINCT loser) AS BIGINT) AS n_dropped
  FROM pairs GROUP BY 1
)
SELECT base.cluster_id, n_vecs,
  CAST(coalesce(n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
  CAST(coalesce(n_dropped, 0) AS BIGINT) AS n_dropped,
  CAST(n_vecs - coalesce(n_dropped, 0) AS BIGINT) AS n_kept
FROM base LEFT JOIN pagg USING (cluster_id)
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# CCNet perplexity buckets
# ---------------------------------------------------------------------------


def ccnet_ppl_buckets(docs: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split, per source: rank documents by the
    corpus-self-scored bigram LM logprob (text.bigram_logprob — CCNet
    uses a wiki-trained KenLM; the self-scored bigram model is the
    tokenizer-free stand-in with identical plumbing) and cut each source
    at exact tertiles — head = the best-scoring third.  Output is one
    row per (source, bucket): doc count, total bigrams, and the score
    range (min/max of the already-rounded per-doc scores — order
    statistics, no re-aggregated floats).

    Tertile cuts are exact integer arithmetic: ascending rank rn over
    (avg_logprob, doc_id), tail = rn <= (cnt+2) div 3, middle up to
    (2·cnt+2) div 3 — engine-identical BIGINT expressions.

    Scale: the per-source rank uses rank_distributed(partition_cols=
    [source]) — the adaptive_length_filter discipline — so no source's
    documents ever sit in one task; the tertile thresholds ride the
    O(sources) broadcast count table.  Docs with <2 tokens have no
    bigram score and are out of scope (consistent with
    text_bigram_logprob)."""
    from realparse_spark.operators.text import bigram_logprob

    scores = bigram_logprob(docs)
    # the bigram-LM scoring is the expensive stage and BOTH the ranker
    # and the per-source count table read it — materialize the compact
    # (doc_id, n_bigrams, avg_logprob, source) row once instead of
    # re-running the LM per consumer (guide §2.4)
    per = scores.join(docs.select("doc_id", "source"), "doc_id").localCheckpoint(
        eager=False
    )
    ranked = rank_distributed(
        per, ["avg_logprob", "doc_id"], rank_col="rn", partition_cols=["source"]
    )
    counts = per.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    joined = ranked.join(F.broadcast(counts), "source")
    bucket = (
        F.when(F.col("rn") <= F.expr("(cnt + 2) div 3"), F.lit("tail"))
        .when(F.col("rn") <= F.expr("(2 * cnt + 2) div 3"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return (
        joined.select("source", bucket.alias("bucket"), "n_bigrams", "avg_logprob")
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.min("avg_logprob").alias("min_lp"),
            F.max("avg_logprob").alias("max_lp"),
        )
        .orderBy("source", "bucket")
    )


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_ppl_buckets(fan_out(load_table(spark, sf_dir, "documents")))


CCNET_PPL_BUCKETS_SQL = r"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM tk
),
tf AS (SELECT doc_id, bg, count(*) AS tf FROM bg GROUP BY 1, 2),
cbg AS (SELECT bg, sum(tf) AS cnt_bg FROM tf GROUP BY 1),
cw1 AS (SELECT string_split(bg, ' ')[1] AS w1, sum(tf) AS cnt_w1 FROM tf GROUP BY 1),
scores AS (
  SELECT doc_id,
    CAST(sum(tf) AS BIGINT) AS n_bigrams,
    round(sum(tf * ln(CAST(cnt_bg AS DOUBLE) / cnt_w1)) / sum(tf), 6) AS avg_logprob
  FROM tf
  JOIN cbg USING (bg)
  JOIN cw1 ON string_split(tf.bg, ' ')[1] = cw1.w1
  GROUP BY doc_id
),
ranked AS (
  SELECT d.source, s.n_bigrams, s.avg_logprob,
    row_number() OVER (PARTITION BY d.source ORDER BY s.avg_logprob, s.doc_id) AS rn,
    count(*) OVER (PARTITION BY d.source) AS cnt
  FROM scores s JOIN documents d USING (doc_id)
),
bucketed AS (
  SELECT source,
    CASE WHEN rn <= (cnt + 2) // 3 THEN 'tail'
         WHEN rn <= (2 * cnt + 2) // 3 THEN 'middle'
         ELSE 'head' END AS bucket,
    n_bigrams, avg_logprob
  FROM ranked
)
SELECT source, bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
  min(avg_logprob) AS min_lp,
  max(avg_logprob) AS max_lp
FROM bucketed
GROUP BY source, bucket
ORDER BY source, bucket
"""


# ---------------------------------------------------------------------------
# held-out LM perplexity (the CCNet loop with a real train/score split)
# ---------------------------------------------------------------------------

LM_TEST_MOD = 5  # doc_id % 5 == 0 is the held-out scored split


def lm_holdout_ppl(docs: DataFrame, test_mod: int = LM_TEST_MOD) -> DataFrame:
    """Held-out unigram-LM scoring, per source: train a Laplace-smoothed
    unigram LM on the ``doc_id % test_mod != 0`` split and score the
    held-out docs — the actual CCNet quality loop (the LM is trained on
    REFERENCE data and scores the crawl; `ccnet_ppl_buckets` self-scores
    with identical plumbing).  Per source: held-out doc/token counts,
    mean negative log-likelihood per token, a perplexity estimate
    (exp of the mean NLL), and the OOV token share in ppm — the table
    that says which sources the reference model finds surprising.

    Model: lp(w) = ln((cnt(w)+1)/(T+V)) over train counts; a held-out
    token unseen in training scores the smoothed floor ln(1/(T+V)) and
    counts toward oov_ppm.

    Determinism: each lp rounds to 6 and enters as an exact DECIMAL
    term (tf * lp rounded to 6 — the nb_langid seam); the per-source
    mean divides two exact decimal totals once in doubles and rounds to
    6; ppl = round(exp(mean_nll), 4) — one libm exp per OUTPUT ROW on an
    identical rounded input (the classifier sigmoid precedent).

    Scale: train stats are one map-combined token pass; the O(V) logprob
    table broadcasts into a posting-shaped scoring join (no class
    fan-out here — one model); per-source rollup is map-side combined.
    No windows, no Python."""
    from realparse_spark.operators.text import ws_tokens

    toks = docs.select(
        "doc_id", "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    )
    is_test = F.pmod(F.col("doc_id"), F.lit(test_mod)) == 0
    train = toks.filter(~is_test)
    test = toks.filter(is_test)
    # the train-side token counts feed BOTH the totals row and the logprob
    # table — materialize the O(V) count table once instead of re-running
    # the train tokenize pass per consumer (guide §2.4)
    cnt = (
        train.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = cnt.agg(
        F.sum("cnt").cast("bigint").alias("t_tok"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(F.log((F.col("cnt") + 1) / (F.col("t_tok") + F.col("v"))), 6).alias(
            "lp"
        ),
    )
    tf = test.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    scored = (
        tf.join(F.broadcast(lp), "w", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tf",
            F.when(F.col("lp").isNull(), F.col("tf")).otherwise(0).alias("oov"),
            F.round(
                F.col("tf")
                * F.coalesce(
                    F.col("lp"),
                    F.round(F.log(F.lit(1.0) / (F.col("t_tok") + F.col("v"))), 6),
                ),
                6,
            )
            .cast("decimal(28,6)")
            .alias("term"),
        )
    )
    n_docs = (
        docs.filter(is_test)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    agg = scored.groupBy("source").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        F.sum("term").alias("ll"),
    )
    mean_nll = F.round(-F.col("ll").cast("double") / F.col("n_tokens"), 6)
    # LEFT join from the doc counts: a source whose held-out docs carry
    # zero tokens must still appear (NULL metrics, 0 tokens) — the
    # emb_drift silent-omission discipline
    return (
        n_docs.join(agg, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            mean_nll.alias("mean_nll"),
            F.round(F.exp(mean_nll), 4).alias("ppl"),
            F.coalesce(
                F.expr("n_oov * 1000000 div greatest(n_tokens, 1)"), F.lit(0)
            )
            .cast("bigint")
            .alias("oov_ppm"),
        )
        .orderBy("source")
    )


def q_lm_holdout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_holdout_ppl(fan_out(load_table(spark, sf_dir, "documents")))


_LM_HOLDOUT_CTES = rf"""toks AS (
  SELECT doc_id, source,
    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
  FROM documents
),
train AS (SELECT * FROM toks WHERE doc_id % {LM_TEST_MOD} <> 0),
test AS (SELECT * FROM toks WHERE doc_id % {LM_TEST_MOD} = 0),
cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM train GROUP BY w),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS t_tok, CAST(count(*) AS BIGINT) AS v FROM cnt
),
lp AS (
  SELECT w, round(ln((cnt + 1) / CAST(t_tok + v AS DOUBLE)), 6) AS lp
  FROM cnt CROSS JOIN tot
),
tf AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS tf FROM test GROUP BY source, w
),
scored AS (
  SELECT source, tf,
    CASE WHEN lp.lp IS NULL THEN tf ELSE 0 END AS oov,
    CAST(round(tf * coalesce(lp.lp, round(ln(1.0 / (t_tok + v)), 6)), 6)
         AS DECIMAL(28,6)) AS term
  FROM tf LEFT JOIN lp USING (w) CROSS JOIN tot
),
nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE doc_id % {LM_TEST_MOD} = 0 GROUP BY source
),
agg AS (
  SELECT source,
    CAST(sum(tf) AS BIGINT) AS n_tokens,
    CAST(sum(oov) AS BIGINT) AS n_oov,
    sum(term) AS ll
  FROM scored GROUP BY source
),
ppl_out AS (
  SELECT nd.source, nd.n_docs,
    CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
    round(-CAST(ll AS DOUBLE) / agg.n_tokens, 6) AS mean_nll,
    round(exp(round(-CAST(ll AS DOUBLE) / agg.n_tokens, 6)), 4) AS ppl,
    CAST(coalesce(n_oov * 1000000 // greatest(agg.n_tokens, 1), 0) AS BIGINT) AS oov_ppm
  FROM nd LEFT JOIN agg USING (source)
)"""

LM_HOLDOUT_PPL_SQL = (
    "WITH "
    + _LM_HOLDOUT_CTES
    + """
SELECT source, n_docs, n_tokens, mean_nll, ppl, oov_ppm
FROM ppl_out
ORDER BY source
"""
)


DOREMI_ALPHA = 1.0


def doremi_lite_weights(
    docs: DataFrame, test_mod: int = LM_TEST_MOD, alpha: float = DOREMI_ALPHA
) -> DataFrame:
    """Static excess-loss mixture re-weighting (the DoReMi idea — Xie et
    al. 2023, arXiv:2305.10429 — without the proxy-model training loop):
    sources whose held-out text the reference LM finds MORE surprising
    get upweighted, w_s ∝ exp(alpha * (nll_s - min nll)), normalized to
    shares.  Emits per source the held-out token share, mean NLL, excess
    NLL, the mixture weight, and the boost factor vs natural token share
    — the domain-weights table a mixing stage consumes (DoReMi's full
    minimax loop replaces this exp rule with proxy-model updates; the
    PLUMBING — per-domain loss -> normalized weights -> resampling — is
    identical, and `doc_weighted_sample` consumes the output).

    Shares `lm_holdout_ppl`'s trained-LM stage (same CTE chain in the
    oracle); adds one O(sources) broadcast of the (min NLL, total
    tokens) row and one exact-decimal normalizing sum (the
    lang_mix_temperature pow() discipline: exp rounds to 9, sums as
    DECIMAL(18,9), each share is ONE IEEE division of identical decimal
    totals rounded to 6)."""
    # zero-token sources carry NULL NLL (lm_holdout_ppl's left join) —
    # they cannot participate in the weight normalization
    # the whole held-out-LM pipeline feeds BOTH the baseline row and the
    # per-source weights — materialize its O(sources) output once
    ppl = (
        lm_holdout_ppl(docs, test_mod)
        .filter(F.col("n_tokens") > 0)
        .localCheckpoint(eager=False)
    )
    base = ppl.agg(
        F.min("mean_nll").alias("base_nll"),
        F.sum("n_tokens").cast("bigint").alias("tot_tok"),
    )
    excess = F.round(F.col("mean_nll") - F.col("base_nll"), 6)
    ex = ppl.crossJoin(F.broadcast(base)).select(
        "source",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot_tok"), 6).alias("token_share"),
        "mean_nll",
        excess.alias("excess_nll"),
        F.round(F.exp(F.lit(alpha) * excess), 9)
        .cast("decimal(18,9)")
        .alias("_q_raw"),
    )
    qt = ex.agg(F.sum("_q_raw").alias("_qt"))
    w = F.round(F.col("_q_raw").cast("double") / F.col("_qt").cast("double"), 6)
    return (
        ex.crossJoin(F.broadcast(qt))
        .select(
            "source",
            "n_tokens",
            "token_share",
            "mean_nll",
            "excess_nll",
            w.alias("weight"),
            F.round(w / F.col("token_share"), 4).alias("boost"),
        )
        .orderBy("source")
    )


def q_doremi_lite_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doremi_lite_weights(fan_out(load_table(spark, sf_dir, "documents")))


DOREMI_LITE_SQL = (
    "WITH "
    + _LM_HOLDOUT_CTES
    + f""",
live AS (SELECT * FROM ppl_out WHERE n_tokens > 0),
base AS (
  SELECT min(mean_nll) AS base_nll, CAST(sum(n_tokens) AS BIGINT) AS tot_tok
  FROM live
),
ex AS (
  SELECT source, n_tokens,
    round(CAST(n_tokens AS DOUBLE) / tot_tok, 6) AS token_share,
    mean_nll,
    round(mean_nll - base_nll, 6) AS excess_nll,
    CAST(round(exp({DOREMI_ALPHA} * round(mean_nll - base_nll, 6)), 9)
         AS DECIMAL(18,9)) AS q_raw
  FROM live CROSS JOIN base
),
qt AS (SELECT sum(q_raw) AS qt FROM ex)
SELECT source, n_tokens, token_share, mean_nll, excess_nll,
  round(CAST(q_raw AS DOUBLE) / CAST(qt.qt AS DOUBLE), 6) AS weight,
  round(round(CAST(q_raw AS DOUBLE) / CAST(qt.qt AS DOUBLE), 6) / token_share, 4) AS boost
FROM ex CROSS JOIN qt
ORDER BY source
"""
)


# ---------------------------------------------------------------------------
# k-means training (Lloyd iterations as a fixed unrolled plan)
# ---------------------------------------------------------------------------

KMEANS_ITERS = 3


def _label_prior_centroids(emb: DataFrame) -> DataFrame:
    """(cluster_id, cvec) from the coarse `label` prior — exact-decimal
    per-dimension mean rounded to 6 (the emb_centroids discipline);
    shared by `_assign_and_score`'s one-step path and `kmeans_train`."""
    long = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent_long = long.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    return cent_long.groupBy(F.col("label").alias("cluster_id")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )


def _kmeans_assigned(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """The final Lloyd assignment (vec_id, embedding, cluster_id, d2)
    after ``iters`` unrolled iterations from the label-prior seed —
    shared by `kmeans_train` (inertia rollup) and `ivf_balance` (index
    health rollup) so both report the SAME converged partition."""
    cents = _label_prior_centroids(emb).localCheckpoint(eager=False)
    assigned = None
    for _ in range(iters):
        assigned = _argmin_assign(emb, cents)
        long = assigned.select(
            "cluster_id", F.posexplode("embedding").alias("pos", "v")
        )
        cent_long = long.groupBy("cluster_id", "pos").agg(
            F.round(
                F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("c")
        )
        cents = cent_long.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cvec")
        ).localCheckpoint(eager=False)
    return assigned


def kmeans_train(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """`iters` full Lloyd iterations of k-means over the embedding table
    (Lloyd 1982), centroids seeded from the coarse `label` prior —
    the multi-step generalization of `semdedup`'s single reassignment,
    exposed because a pipeline that clusters for curriculum, SemDeDup
    blocking, or IVF coarse quantizers wants the converged assignment,
    not one step.  Emits the per-cluster audit after the final
    assignment: member count and inertia (sum of squared L2 distances —
    THE k-means objective, so round-over-round runs can assert descent).

    Determinism (the semdedup discipline end-to-end): centroid
    components are exact-decimal means rounded to 6; distances round to
    6 with (d2, cluster_id) lexicographic argmin; inertia accumulates in
    exact DECIMAL(18,6) (associative — no float summation order for
    engines to disagree on) with ONE terminal double conversion.  A
    cluster that loses every member simply drops out of the table —
    identical behavior in both engines, asserted in tests.

    Scale: each iteration is ONE 1-row broadcast of the packed centroid
    table against the corpus with the argmin computed IN-ROW
    (`_argmin_assign` — a pure scan, no per-vector shuffle) and ONE
    map-side-combined (cluster, dim) mean; the centroid table is
    localCheckpoint'd per iteration (the pagerank_parts
    iterate-over-aggregates discipline) so the physical plan stays
    O(1)-deep per step instead of nesting `iters` scans."""
    return (
        _kmeans_assigned(emb, iters)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.round(
                F.sum(F.col("d2").cast("decimal(18,6)")).cast("double"), 4
            ).alias("inertia"),
        )
        .orderBy("cluster_id")
    )


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_train(fan_out(load_table(spark, sf_dir, "embeddings")))


def _kmeans_cte_parts(iters: int = KMEANS_ITERS) -> list[str]:
    """The unrolled Lloyd CTE chain ending in ``assigned{iters}`` —
    shared by the training oracle and the ivf_balance oracle so both
    read the identical converged assignment."""
    d2 = (
        "round(list_aggregate(list_transform(range(1, len(e.embedding) + 1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) "
        "* (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), 'sum'), 6)"
    )
    parts = [
        """long0 AS (
  SELECT label AS cluster_id,
    unnest(range(0, len(embedding))) AS pos,
    unnest(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)))) AS v
  FROM embeddings
),
cents0 AS (
  SELECT cluster_id, list(c ORDER BY pos) AS cvec
  FROM (SELECT cluster_id, pos, round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS c
        FROM long0 GROUP BY cluster_id, pos)
  GROUP BY cluster_id
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""cand{i} AS (
  SELECT e.vec_id, e.embedding, c.cluster_id, {d2} AS d2
  FROM embeddings e CROSS JOIN cents{i - 1} c
),
assigned{i} AS (
  SELECT vec_id, embedding, cluster_id, d2
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
        FROM cand{i})
  WHERE rn = 1
),
cents{i} AS (
  SELECT cluster_id, list(c ORDER BY pos) AS cvec
  FROM (SELECT cluster_id, pos, round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS c
        FROM (SELECT cluster_id,
                unnest(range(0, len(embedding))) AS pos,
                unnest(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)))) AS v
              FROM assigned{i})
        GROUP BY cluster_id, pos)
  GROUP BY cluster_id
)"""
        )
    return parts


def _kmeans_sql(iters: int = KMEANS_ITERS) -> str:
    """Unrolled DuckDB mirror: one (assign, recenter) CTE pair per Lloyd
    iteration, same rounding at every seam as the Spark plan."""
    return (
        "WITH "
        + ",\n".join(_kmeans_cte_parts(iters))
        + f"""
SELECT cluster_id,
  CAST(count(*) AS BIGINT) AS n_members,
  round(CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE), 4) AS inertia
FROM assigned{iters}
GROUP BY cluster_id
ORDER BY cluster_id
"""
    )


# ---------------------------------------------------------------------------
# IVF index health report over the converged k-means partition
# ---------------------------------------------------------------------------


def ivf_balance(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Health report for an IVF coarse quantizer built on the converged
    `_kmeans_assigned` partition: per surviving cluster the member
    count, corpus share (ppm), and mean squared quantization error,
    plus as constant columns the imbalance factor (largest cluster vs
    the ideal N/K_seed, x1000 integer) and the number of seed clusters
    that died — the table an ANN pipeline reads before shipping an IVF
    index (a hot cluster means probes degrade toward scans; dead
    clusters mean wasted nprobe budget).  The partition audited here is
    deterministic end to end, so the driver hash-verifies it; the repo
    ships no IVF index of its own (exact top-k and the bucketed-LSH
    probe serve every near-neighbour query in `similarity.py`).

    Determinism: counts and shares are BIGINT (ppm by integral
    division); mean_d2 accumulates round-6 d2 as exact DECIMAL and
    divides once; imbalance_x1000 = max_n * K_seed * 1000 div N, exact.

    Scale: one map-side-combined rollup over the assignment scan
    (`_kmeans_assigned` is O(iters) map-only passes), then TWO 1-row
    broadcasts (corpus totals, cluster extremes) joined back onto the
    O(K) cluster rows."""
    assigned = _kmeans_assigned(emb, iters)
    # `sizes` feeds BOTH the extremes rollup and the final join-back —
    # without a cut each consumer re-runs the whole O(iters) assignment
    # chain (guide §2.4); the materialized table is O(K) rows
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.round(
            F.sum(F.col("d2").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_d2"),
    ).localCheckpoint(eager=False)
    tot = emb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vec"),
        F.countDistinct("label").cast("bigint").alias("k_seed"),
    )
    ext = sizes.agg(
        F.max("n_members").alias("max_n"),
        F.count(F.lit(1)).cast("bigint").alias("k_live"),
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ext))
        .select(
            "cluster_id",
            "n_members",
            F.expr("n_members * 1000000 div n_vec").alias("share_ppm"),
            "mean_d2",
            F.expr("max_n * k_seed * 1000 div n_vec").alias("imbalance_x1000"),
            (F.col("k_seed") - F.col("k_live")).alias("n_empty"),
        )
        .orderBy("cluster_id")
    )


def q_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_balance(fan_out(load_table(spark, sf_dir, "embeddings")))


def _ivf_balance_sql(iters: int = KMEANS_ITERS) -> str:
    parts = _kmeans_cte_parts(iters)
    parts.append(
        f"""sizes AS (
  SELECT cluster_id,
    CAST(count(*) AS BIGINT) AS n_members,
    round(CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_d2
  FROM assigned{iters}
  GROUP BY cluster_id
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vec,
         CAST(count(DISTINCT label) AS BIGINT) AS k_seed
  FROM embeddings
),
ext AS (
  SELECT max(n_members) AS max_n, CAST(count(*) AS BIGINT) AS k_live FROM sizes
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT cluster_id, n_members,
  n_members * 1000000 // n_vec AS share_ppm,
  mean_d2,
  max_n * k_seed * 1000 // n_vec AS imbalance_x1000,
  k_seed - k_live AS n_empty
FROM sizes CROSS JOIN tot CROSS JOIN ext
ORDER BY cluster_id
"""
    )


# ---------------------------------------------------------------------------
# quality-classifier training: logistic regression by unrolled GD steps
# ---------------------------------------------------------------------------

CLASSIFIER_STEPS = 3
CLASSIFIER_LR = 5.0
CLASSIFIER_SHORT_DOC = 40  # the heuristic gate being distilled: n_tok < 40


def _classifier_features(docs: DataFrame) -> DataFrame:
    """(doc_id, x0=bias, x1=token count/100, x2=distinct-token ratio,
    y=heuristic junk label) — the scan-speed feature row both engines
    compute identically (round-6 seams)."""
    from realparse_spark.operators.text import ws_tokens

    toks = docs.select("doc_id", ws_tokens(F.col("text")).alias("_t"))
    n = F.size("_t")
    return toks.select(
        "doc_id",
        F.lit(1.0).alias("x0"),
        F.round(n / F.lit(100.0), 6).alias("x1"),
        F.round(
            F.size(F.array_distinct("_t")) / F.greatest(n, F.lit(1)).cast("double"), 6
        ).alias("x2"),
        F.when(n < CLASSIFIER_SHORT_DOC, 1.0).otherwise(0.0).alias("y"),
    )


def quality_classifier_train(
    docs: DataFrame,
    steps: int = CLASSIFIER_STEPS,
    lr: float = CLASSIFIER_LR,
    feats: DataFrame | None = None,
) -> DataFrame:
    """Train a linear document-quality scorer by ``steps`` unrolled
    full-batch logistic-regression gradient steps — the standard way a
    cheap heuristic gate (here: the Gopher-style short-doc rule) is
    DISTILLED into a differentiable score that generalizes past its
    threshold (the fasttext-classifier bootstrap, e.g. CCNet /
    GPT-3-style quality filtering: label with a rule or a trusted
    corpus, fit a linear model on scan-speed features).

    Each step: ONE broadcast of the 1-row weight vector against the
    feature scan, p = sigmoid(w·x) in-row, then ONE map-side-combined
    aggregation for the 3 gradient components + the log-loss — no
    per-doc shuffle anywhere, O(steps) total passes, weights
    localCheckpoint'd per step so the plan stays O(1)-deep (the
    kmeans_train discipline).

    Determinism: z and p round to 9 (the lang_mix_temperature pow()
    discipline — absorbs any cross-engine libm exp/ln ULP), per-row
    gradient/log-loss terms round to 9 and accumulate as DECIMAL(18,9)
    (order-free), and each weight update divides the exact sum once in
    doubles and rounds to 9.  Emits (step, loss, w_bias, w_len,
    w_diversity): loss is the objective ENTERING the step (so descent
    across rows is assertable), weights are AFTER the update."""
    if feats is None:
        # every GD step scans the features; materialize them once instead
        # of re-running the tokenize/regex feature pass per step (guide
        # SS2.4/SS5 - the feature row is 4 doubles + doc_id, the tokenize
        # is the expensive part).  Callers that score with the trained
        # weights (calibration / PR curve) pass their own checkpointed
        # feats so training and scoring share ONE feature scan.
        feats = _classifier_features(docs).localCheckpoint(eager=False)
    w = docs.sparkSession.createDataFrame(
        [(0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double"
    )
    out_rows = []
    eps = F.lit(1e-12)
    for step in range(1, steps + 1):
        z = F.round(
            F.col("w0") * F.col("x0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2"),
            9,
        )
        p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
        row = feats.crossJoin(F.broadcast(w)).select(
            "x0", "x1", "x2", "y", p.alias("p")
        )
        g = lambda xj: F.sum(  # noqa: E731 — per-feature exact gradient sum
            F.round((F.col("p") - F.col("y")) * F.col(xj), 9).cast("decimal(28,9)")
        )
        ll = F.sum(
            F.round(
                -(
                    F.col("y") * F.log(F.col("p") + eps)
                    + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - F.col("p") + eps)
                ),
                9,
            ).cast("decimal(28,9)")
        )
        agg = row.groupBy().agg(
            g("x0").alias("g0"),
            g("x1").alias("g1"),
            g("x2").alias("g2"),
            ll.alias("lsum"),
            F.count(F.lit(1)).alias("n"),
        )
        upd = lambda wj, gj: F.round(  # noqa: E731
            F.col(wj) - F.lit(lr) * (F.col(gj).cast("double") / F.col("n")), 9
        )
        w = (
            w.crossJoin(F.broadcast(agg))
            .select(
                upd("w0", "g0").alias("w0"),
                upd("w1", "g1").alias("w1"),
                upd("w2", "g2").alias("w2"),
                F.round(F.col("lsum").cast("double") / F.col("n"), 6).alias("loss"),
            )
            .localCheckpoint(eager=False)
        )
        out_rows.append(
            w.select(
                F.lit(step).alias("step"),
                "loss",
                F.col("w0").alias("w_bias"),
                F.col("w1").alias("w_len"),
                F.col("w2").alias("w_diversity"),
            )
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step")


def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_classifier_train(fan_out(load_table(spark, sf_dir, "documents")))


def _classifier_cte_parts(
    steps: int = CLASSIFIER_STEPS, lr: float = CLASSIFIER_LR
) -> list[str]:
    """The shared unrolled-GD CTE chain (feats, w0_, then one
    score/gradient/update trio per step) — consumed by the training
    oracle and the calibration oracle so the two can never drift."""
    parts = [
        rf"""feats AS (
  SELECT doc_id, 1.0 AS x0,
    round(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) / 100.0, 6) AS x1,
    round(len(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> '')))
          / CAST(greatest(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')), 1) AS DOUBLE), 6) AS x2,
    CASE WHEN len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) < {CLASSIFIER_SHORT_DOC}
         THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
w0_ AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2)"""
    ]
    for i in range(1, steps + 1):
        parts.append(
            f"""p{i} AS (
  SELECT f.x0, f.x1, f.x2, f.y,
    round(1.0 / (1.0 + exp(-(round(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2, 9)))), 9) AS p
  FROM feats f CROSS JOIN w{i - 1}_ w
),
a{i} AS (
  SELECT
    sum(CAST(round((p - y) * x0, 9) AS DECIMAL(28,9))) AS g0,
    sum(CAST(round((p - y) * x1, 9) AS DECIMAL(28,9))) AS g1,
    sum(CAST(round((p - y) * x2, 9) AS DECIMAL(28,9))) AS g2,
    sum(CAST(round(-(y * ln(p + 1e-12) + (1.0 - y) * ln(1.0 - p + 1e-12)), 9) AS DECIMAL(28,9))) AS lsum,
    count(*) AS n
  FROM p{i}
),
w{i}_ AS (
  SELECT
    round(w.w0 - {lr} * (CAST(a.g0 AS DOUBLE) / a.n), 9) AS w0,
    round(w.w1 - {lr} * (CAST(a.g1 AS DOUBLE) / a.n), 9) AS w1,
    round(w.w2 - {lr} * (CAST(a.g2 AS DOUBLE) / a.n), 9) AS w2,
    round(CAST(a.lsum AS DOUBLE) / a.n, 6) AS loss
  FROM w{i - 1}_ w CROSS JOIN a{i} a
)"""
        )
    return parts


def _classifier_sql(steps: int = CLASSIFIER_STEPS, lr: float = CLASSIFIER_LR) -> str:
    """Unrolled DuckDB mirror: one (score, gradient, update) CTE trio per
    GD step, identical rounding at every seam."""
    parts = _classifier_cte_parts(steps, lr)
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, loss, w0 AS w_bias, w1 AS w_len, w2 AS w_diversity FROM w{i}_"
        for i in range(1, steps + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects + "\nORDER BY step"


CALIBRATION_BINS = 10


def classifier_calibration(
    docs: DataFrame, steps: int = CLASSIFIER_STEPS, lr: float = CLASSIFIER_LR
) -> DataFrame:
    """Reliability report for the trained quality scorer: score every
    doc with the step-``steps`` weights, bucket into ``CALIBRATION_BINS``
    equal-width probability bins, and report per bin the doc count, mean
    predicted probability, empirical junk rate, and Brier contribution —
    the calibration curve a filtering pipeline inspects before picking a
    keep threshold (a scorer can rank well and still be badly
    calibrated; the keep threshold reads off THIS table).

    One extra corpus pass after training: weights arrive as the 1-row
    broadcast from `quality_classifier_train`'s final step (shared plan,
    not a retrain), scoring is in-row, and the bin aggregation is
    map-side combined into O(bins) rows.  Sums accumulate as
    DECIMAL(28,9) over round-9 terms (the training seam discipline), so
    the shared-CTE DuckDB mirror hash-matches."""
    # ONE checkpointed feature scan shared by training (all GD steps) and
    # the scoring pass below - previously training re-tokenized per step
    # and scoring tokenized once more (4 full regex passes total)
    feats = _classifier_features(docs).localCheckpoint(eager=False)
    w = (
        quality_classifier_train(docs, steps, lr, feats=feats)
        .filter(F.col("step") == steps)
        .select(
            F.col("w_bias").alias("w0"),
            F.col("w_len").alias("w1"),
            F.col("w_diversity").alias("w2"),
        )
    )
    z = F.round(
        F.col("w0") * F.col("x0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2"),
        9,
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    scored = feats.crossJoin(F.broadcast(w)).select("y", p.alias("p"))
    bin_ = F.least(
        F.floor(F.col("p") * CALIBRATION_BINS), F.lit(CALIBRATION_BINS - 1)
    ).cast("bigint")
    dec = lambda c: F.sum(c.cast("decimal(28,9)"))  # noqa: E731
    return (
        scored.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(dec(F.col("p")).cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_p"
            ),
            F.round(dec(F.col("y")).cast("double") / F.count(F.lit(1)), 6).alias(
                "junk_rate"
            ),
            F.round(
                dec(F.round((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 9))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("brier"),
        )
        .orderBy("bin")
    )


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classifier_calibration(fan_out(load_table(spark, sf_dir, "documents")))


def _calibration_sql(
    steps: int = CLASSIFIER_STEPS,
    lr: float = CLASSIFIER_LR,
    bins: int = CALIBRATION_BINS,
) -> str:
    parts = _classifier_cte_parts(steps, lr)
    parts.append(
        f"""scored AS (
  SELECT f.y,
    round(1.0 / (1.0 + exp(-(round(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2, 9)))), 9) AS p
  FROM feats f CROSS JOIN w{steps}_ w
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(least(floor(p * {bins}), {bins - 1}) AS BIGINT) AS bin,
  CAST(count(*) AS BIGINT) AS n_docs,
  round(CAST(sum(CAST(p AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS mean_p,
  round(CAST(sum(CAST(y AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS junk_rate,
  round(CAST(sum(CAST(round((p - y) * (p - y), 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS brier
FROM scored
GROUP BY 1
ORDER BY bin"""
    )


# ---------------------------------------------------------------------------
# PCA: top principal component by unrolled power iteration
# ---------------------------------------------------------------------------

PCA_ITERS = 3


def pca_power_iter(emb: DataFrame, iters: int = PCA_ITERS) -> DataFrame:
    """Top principal component of the embedding table by ``iters``
    unrolled power-iteration steps (von Mises iteration over the
    covariance operator, computed MATRIX-FREE: v <- normalize(sum_i
    (x_i-mu . v) (x_i-mu)) — the covariance matrix is never
    materialized).  Emits one row per dimension: the column mean, the
    unit component, and as constant columns the eigenvalue estimate
    (lambda = sum s_i^2 / n, the variance captured) and the explained
    variance ratio vs total variance — the dimensionality-reduction
    health report an embedding pipeline reads before truncating widths
    (the spectral counterpart to `emb_matryoshka_eval`'s recall view).

    Determinism: the per-vector projection s_i is a SEQUENTIAL in-row
    double fold over pos-ordered arrays rounded to 6 (the
    `retrieval_eval` cosine discipline); every cross-vector reduction
    (per-dim y, norms, lambda, total variance) accumulates round-12
    terms as exact DECIMAL and converts to double ONCE; the start
    vector is the all-ones literal, so both engines run the identical
    deterministic recurrence.

    Scale: the centered array is computed in-row against the 1-row
    broadcast mean (map-only); each iteration is ONE corpus scan — the
    fold for s_i is in-row, the d-dim y reduction is ONE
    map-side-combined posexplode groupBy (d=O(100) rows out) — and the
    64-row v table localCheckpoints per step so the plan stays
    O(1)-deep (the kmeans_train discipline).  No joins on vec_id, no
    windows, nothing driver-side."""
    long = emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
    # mu feeds the centering broadcast AND the final per-dimension join —
    # without the d-row materialization the corpus-wide posexplode +
    # groupBy(pos) above runs once per consumer (guide §2.4)
    mu = long.groupBy("pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mu")
    ).localCheckpoint(eager=False)
    mu_row = mu.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda s: s["mu"]
        ).alias("mu_arr")
    )
    base = (
        emb.crossJoin(F.broadcast(mu_row))
        .select(
            "vec_id",
            F.zip_with(
                "embedding",
                "mu_arr",
                lambda x, m: F.round(x.cast("double") - m, 6),
            ).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    n_row = base.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    v_row = mu_row.select(
        F.transform("mu_arr", lambda _: F.lit(1.0)).alias("v")
    ).localCheckpoint(eager=False)

    def proj(ccol, vcol):
        # sequential in-row double fold, rounded at the seam
        return F.round(
            F.aggregate(
                F.zip_with(ccol, vcol, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            6,
        )

    dec = lambda col: F.sum(F.round(col, 12).cast("decimal(38,12)"))  # noqa: E731
    for _ in range(iters):
        s = base.crossJoin(F.broadcast(v_row)).select(
            "vec_id", "c", proj(F.col("c"), F.col("v")).alias("s")
        )
        y = (
            s.select("s", F.posexplode("c").alias("pos", "cv"))
            .groupBy("pos")
            .agg(F.round(dec(F.col("s") * F.col("cv")).cast("double"), 6).alias("y"))
        )
        norm = y.groupBy().agg(
            F.sqrt(dec(F.col("y") * F.col("y")).cast("double")).alias("nrm")
        )
        v_row = (
            y.crossJoin(F.broadcast(norm))
            .select("pos", F.round(F.col("y") / F.col("nrm"), 6).alias("v"))
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda t: t["v"],
                ).alias("v")
            )
            .localCheckpoint(eager=False)
        )
    s_fin = base.crossJoin(F.broadcast(v_row)).select(
        "vec_id", "c", proj(F.col("c"), F.col("v")).alias("s")
    )
    lam = s_fin.groupBy().agg(
        F.round(
            dec(F.col("s") * F.col("s")).cast("double") / F.count(F.lit(1)), 6
        ).alias("eigenvalue")
    )
    tot = (
        base.select(F.explode("c").alias("cv"))
        .groupBy()
        .agg(dec(F.col("cv") * F.col("cv")).alias("ss"))
        .crossJoin(F.broadcast(n_row))
        .select(F.round(F.col("ss").cast("double") / F.col("n"), 6).alias("total_var"))
    )
    v_long = v_row.select(F.posexplode("v").alias("pos", "pc1"))
    return (
        mu.join(v_long, "pos")
        .crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("pos").cast("int").alias("pos"),
            F.col("mu").alias("mean_c"),
            F.col("pc1").alias("pc1_c"),
            "eigenvalue",
            F.round(F.col("eigenvalue") / F.col("total_var"), 6).alias(
                "explained_var_ratio"
            ),
        )
        .orderBy("pos")
    )


def q_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca_power_iter(fan_out(load_table(spark, sf_dir, "embeddings")))


def _pca_sql(iters: int = PCA_ITERS) -> str:
    """Unrolled DuckDB mirror: long-form (vec_id, pos, c) centered table,
    one (project, reduce, normalize) CTE trio per power step, identical
    rounding at every seam (in-row sequential double fold for s, exact
    DECIMAL for every cross-vector sum)."""
    fold_s = (
        "round(list_aggregate(list_transform(range(1, len(c) + 1), "
        "i -> c[i] * v[i]), 'sum'), 6)"
    )
    parts = [
        """long0 AS (
  SELECT vec_id,
    unnest(range(0, len(embedding))) AS pos,
    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
  FROM embeddings
),
mu AS (
  SELECT pos,
    round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS mu
  FROM long0 GROUP BY pos
),
clong AS (
  SELECT l.vec_id, l.pos, round(l.x - m.mu, 6) AS c
  FROM long0 l JOIN mu m USING (pos)
),
base AS (
  SELECT vec_id, list(c ORDER BY pos) AS c FROM clong GROUP BY vec_id
),
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
v0 AS (SELECT list_transform(list(pos), p -> 1.0) AS v FROM mu)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""s{i} AS (
  SELECT vec_id, c, {fold_s} AS s FROM base CROSS JOIN v{i - 1}
),
y{i} AS (
  SELECT pos,
    round(CAST(sum(CAST(round(s.s * c.c, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS y
  FROM (SELECT vec_id, s FROM s{i}) s JOIN clong c USING (vec_id)
  GROUP BY pos
),
nm{i} AS (
  SELECT sqrt(CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM y{i}
),
v{i} AS (
  SELECT list(round(y.y / nm.nrm, 6) ORDER BY y.pos) AS v
  FROM y{i} y CROSS JOIN nm{i} nm
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
, sfin AS (
  SELECT vec_id, {fold_s} AS s FROM base CROSS JOIN v{iters}
),
lam AS (
  SELECT round(CAST(sum(CAST(round(s * s, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 6) AS eigenvalue
  FROM sfin
),
tot AS (
  SELECT round(CAST(sum(CAST(round(c * c, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / (SELECT n FROM nrow), 6) AS total_var
  FROM clong
),
vlong AS (
  SELECT unnest(range(0, len(v))) AS pos, unnest(v) AS pc1 FROM v{iters}
)
SELECT CAST(m.pos AS INTEGER) AS pos, m.mu AS mean_c, vl.pc1 AS pc1_c,
  lam.eigenvalue AS eigenvalue,
  round(lam.eigenvalue / tot.total_var, 6) AS explained_var_ratio
FROM mu m
JOIN vlong vl USING (pos)
CROSS JOIN lam CROSS JOIN tot
ORDER BY pos
"""
    )


PR_CURVE_THRESHOLDS = [round(0.1 * i, 1) for i in range(1, 10)]  # 0.1 .. 0.9


def classifier_pr_curve(
    docs: DataFrame, steps: int = CLASSIFIER_STEPS, lr: float = CLASSIFIER_LR
) -> DataFrame:
    """Precision/recall/F1 sweep for the trained quality scorer over the
    fixed threshold grid 0.1..0.9 — the operating-point table a filtering
    pipeline reads to PICK its keep threshold (calibration says whether
    the probabilities are honest; THIS table says what each cutoff costs
    in junk let through vs good docs discarded).

    Per threshold t (predict junk iff p >= t): tp/fp/fn/tn confusion
    counts against the heuristic label, then precision = tp/(tp+fp),
    recall = tp/(tp+fn), f1 = 2pr/(p+r), each 0 when its denominator is
    0 and rounded to 6.  Everything downstream of the round-9 score is
    INTEGER counts, so the shared-CTE oracle hash-matches with no float
    seam at all.

    One corpus pass after training (shared plan with
    `classifier_calibration`): scoring is in-row against the 1-row
    weight broadcast, the 9-threshold grid fans out as a broadcast
    cross join (9x one scored row each, map-side combined straight back
    to O(thresholds) rows)."""
    # ONE checkpointed feature scan shared by training (all GD steps) and
    # the scoring pass below - previously training re-tokenized per step
    # and scoring tokenized once more (4 full regex passes total)
    feats = _classifier_features(docs).localCheckpoint(eager=False)
    w = (
        quality_classifier_train(docs, steps, lr, feats=feats)
        .filter(F.col("step") == steps)
        .select(
            F.col("w_bias").alias("w0"),
            F.col("w_len").alias("w1"),
            F.col("w_diversity").alias("w2"),
        )
    )
    z = F.round(
        F.col("w0") * F.col("x0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2"),
        9,
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    scored = feats.crossJoin(F.broadcast(w)).select("y", p.alias("p"))
    spark = docs.sparkSession
    grid = spark.createDataFrame(
        [(t,) for t in PR_CURVE_THRESHOLDS], "threshold double"
    )
    pred = (F.col("p") >= F.col("threshold")).cast("int")
    y = F.col("y").cast("int")
    cnt = lambda c: F.sum(c).cast("bigint")  # noqa: E731
    conf = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            cnt(pred * y).alias("tp"),
            cnt(pred * (1 - y)).alias("fp"),
            cnt((1 - pred) * y).alias("fn"),
            cnt((1 - pred) * (1 - y)).alias("tn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6),
    ).otherwise(0.0)
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6),
    ).otherwise(0.0)
    return (
        conf.select(
            "threshold", "tp", "fp", "fn", "tn",
            prec.alias("precision"), rec.alias("recall"),
        )
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                F.round(
                    2 * F.col("precision") * F.col("recall")
                    / (F.col("precision") + F.col("recall")),
                    6,
                ),
            ).otherwise(0.0),
        )
        .orderBy("threshold")
    )


def q_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classifier_pr_curve(fan_out(load_table(spark, sf_dir, "documents")))


def _pr_curve_sql(steps: int = CLASSIFIER_STEPS, lr: float = CLASSIFIER_LR) -> str:
    parts = _classifier_cte_parts(steps, lr)
    grid = ", ".join(f"(CAST({t!r} AS DOUBLE))" for t in PR_CURVE_THRESHOLDS)
    parts.append(
        f"""scored AS (
  SELECT f.y,
    round(1.0 / (1.0 + exp(-(round(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2, 9)))), 9) AS p
  FROM feats f CROSS JOIN w{steps}_ w
),
grid(threshold) AS (VALUES {grid}),
conf AS (
  SELECT threshold,
    CAST(sum(CASE WHEN p >= threshold AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN p >= threshold AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN p < threshold AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN p < threshold AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored CROSS JOIN grid
  GROUP BY threshold
),
pr AS (
  SELECT threshold, tp, fp, fn, tn,
    CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp), 6) ELSE 0.0 END AS precision,
    CASE WHEN tp + fn > 0 THEN round(tp / (tp + fn), 6) ELSE 0.0 END AS recall
  FROM conf
)
SELECT threshold, tp, fp, fn, tn, precision, recall,
  CASE WHEN precision + recall > 0
       THEN round(2 * precision * recall / (precision + recall), 6)
       ELSE 0.0 END AS f1
FROM pr
ORDER BY threshold"""
    )
    return "WITH " + ",\n".join(parts)


QUERIES = {
    "dsir_importance": q_dsir_importance,
    "dsir_resample": q_dsir_resample,
    "semdedup": q_semdedup,
    "ccnet_ppl_buckets": q_ccnet_ppl_buckets,
    "kmeans_train": q_kmeans_train,
    "quality_classifier_train": q_quality_classifier_train,
    "classifier_calibration": q_classifier_calibration,
    "classifier_pr_curve": q_classifier_pr_curve,
    "pca_power_iter": q_pca_power_iter,
    "ivf_balance": q_ivf_balance,
    "lm_holdout_ppl": q_lm_holdout_ppl,
    "doremi_lite_weights": q_doremi_lite_weights,
}

ORACLES = {
    "dsir_importance": DSIR_IMPORTANCE_SQL,
    "dsir_resample": DSIR_RESAMPLE_SQL,
    "semdedup": SEMDEDUP_SQL,
    "ccnet_ppl_buckets": CCNET_PPL_BUCKETS_SQL,
    "kmeans_train": _kmeans_sql(),
    "quality_classifier_train": _classifier_sql(),
    "classifier_calibration": _calibration_sql(),
    "classifier_pr_curve": _pr_curve_sql(),
    "pca_power_iter": _pca_sql(),
    "ivf_balance": _ivf_balance_sql(),
    "lm_holdout_ppl": LM_HOLDOUT_PPL_SQL,
    "doremi_lite_weights": DOREMI_LITE_SQL,
}
