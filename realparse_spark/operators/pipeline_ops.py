"""Training-data pipeline ops over `documents`: deterministic splits,
length bucketing, and sequence packing — the reproducibility layer of an
LLM data pipeline (companions to dedup/similarity/text in SURVEY.md's
extension set).

All three are pure column/window expressions (zero UDFs, partitioned
windows only — nothing global), and all three are DETERMINISTIC by
construction, which is the property that matters operationally:

- `hash_split`    : md5-bucket assignment — a document's train/val/test
                    membership is a function of its key alone, stable
                    across runs, machines, and re-partitioning (Bernoulli
                    `sample()` is none of those).
- `length_buckets`: integer-edge token-length histogram (no float log2 —
                    libm differences would flake the bucket of edge
                    lengths across engines).
- `pack_sequences`: assign docs to fixed-token-budget context windows by
                    running per-source token cumsum (integer division
                    only).  The window is partitioned by `source`; at
                    100 TB packing parallelizes per source shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from realparse_spark.operators.distrank import rank_distributed
from realparse_spark.operators.text import fingerprint_md5, ws_tokens
from realparse_spark.sources.tables import fan_out, load_table


def _hash_bucket(key: Column, n: int = 100) -> Column:
    """Deterministic bucket in [0, n): first 8 md5 hex chars as an int.
    md5 (not xxhash64) so any engine — DuckDB, Trino, Python — reproduces
    the exact assignment."""
    return F.pmod(
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(n),
    )


def hash_split(
    df: DataFrame, key_col: str = "doc_id", train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Add a stable `split` column (train/val/test) keyed on `key_col`."""
    b = _hash_bucket(F.col(key_col))
    return df.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def length_bucket(n_tokens: Column) -> Column:
    """Integer-edge length bucket label."""
    return (
        F.when(n_tokens <= 16, F.lit("0-16"))
        .when(n_tokens <= 32, F.lit("17-32"))
        .when(n_tokens <= 64, F.lit("33-64"))
        .when(n_tokens <= 128, F.lit("65-128"))
        .otherwise(F.lit("129+"))
    )


def pack_sequences(df: DataFrame, ctx_len: int = 256) -> DataFrame:
    """Assign each doc to a context-window pack: running token cumsum per
    `source` (ordered by doc_id — deterministic), pack_id = how many full
    budgets precede the doc.  Integer division keeps both engines exact."""
    n_tok = F.size(ws_tokens(F.col("text")))
    with_tok = df.withColumn("n_tok", n_tok)
    return with_tok.select(
        "doc_id", "source", "n_tok",
        F.expr(f"(sum(n_tok) over (partition by source order by doc_id) - n_tok) div {ctx_len}")
        .alias("pack_id"),
    )


def stratified_sample(
    df: DataFrame,
    rates_pct: dict[str, int],
    default_pct: int = 50,
    strata_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling (source rebalancing): keep a
    row iff md5('sample:'||key) % 100 < the stratum's percentage.  Like
    hash_split, membership is a pure function of the key — stable across
    runs/partitioning, and any engine reproduces it (Bernoulli sample()
    is not reproducible).  The salt prefix decorrelates the sampling
    bucket from the split bucket.  Pure filter: no shuffle, pushes past
    column pruning at 100 TB."""
    pct: Column = F.lit(default_pct)
    for stratum, p in sorted(rates_pct.items()):
        pct = F.when(F.col(strata_col) == stratum, F.lit(p)).otherwise(pct)
    b = _hash_bucket(F.concat(F.lit("sample:"), F.col(key_col).cast("string")))
    return df.filter(b < pct)


def weighted_sample(
    df: DataFrame, weight: Column, key_col: str = "doc_id", denom: int = 1_000_000
) -> DataFrame:
    """Deterministic importance sampling: keep a row iff
    md5-bucket('wsample:'||key) in [0, denom) falls under
    floor(denom*weight + 0.5) — a CONTINUOUS per-row keep probability
    (quality-proportional data mixing), vs `stratified_sample`'s small set
    of per-stratum rates.  Still a pure filter of the key: no shuffle,
    reproducible by any engine at any partitioning, and the weight
    expression stays JVM-side.  floor(+0.5), not round: IEEE-identical
    across engines at threshold ties."""
    b = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wsample:"), F.col(key_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(denom),
    )
    threshold = F.floor(F.lit(float(denom)) * weight + F.lit(0.5)).cast("long")
    return df.filter(b < threshold)


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # longer docs kept proportionally more, capped at certainty — the
    # usual quality-proportional mixing weight, here from a fixture stat
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    kept = weighted_sample(docs, w)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.col("doc_id") * F.col("doc_id")).alias("id_checksum"),
    )


DOC_WEIGHTED_SAMPLE_SQL = r"""
WITH s AS (
  SELECT source, doc_id, n_chars,
    CAST('0x' || substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS b,
    CAST(floor(1000000.0 * least(1.0, n_chars / 400.0) + 0.5) AS BIGINT) AS thr
  FROM documents
)
SELECT source, count(*) AS n_kept,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(doc_id * doc_id) AS BIGINT) AS id_checksum
FROM s WHERE b < thr GROUP BY source
"""


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization: q[i] = floor(v[i]*127/amax + 0.5) with
    amax = max |v[i]| (zero vectors -> all-zero codes).  floor(x + 0.5)
    instead of round() so both engines share exact IEEE-double semantics.
    All JVM-side array expressions — at 100 TB this is a scan-speed map,
    and int8 codes cut ANN shuffle bytes 4x vs float32."""
    return (
        df.withColumn("_vd", F.expr(f"transform({vec_col}, x -> cast(x AS double))"))
        .withColumn("_amax", F.expr("array_max(transform(_vd, x -> abs(x)))"))
        .withColumn(
            "q",
            F.expr(
                "CASE WHEN _amax = 0.0d THEN transform(_vd, x -> 0) "
                "ELSE transform(_vd, x -> cast(floor(x * 127.0d / _amax + 0.5d) AS int)) END"
            ),
        )
        .withColumn("scale", F.round(F.expr("_amax / 127.0d"), 6))
        .drop("_vd", "_amax")
    )


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hash_split(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


DOC_SPLIT_SQL = r"""
WITH s AS (
  SELECT source, n_chars,
    CASE
      WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
      WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
      ELSE 'test'
    END AS split
  FROM documents
)
SELECT source, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY source, split
"""


def q_doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(ws_tokens(F.col("text")))
    return (
        docs.select("lang", length_bucket(n_tok).alias("bucket"), n_tok.alias("n_tok"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
            F.max("n_tok").cast("int").alias("max_tokens"),
        )
    )


DOC_LENGTH_BUCKETS_SQL = r"""
WITH t AS (
  SELECT lang, len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok
  FROM documents
),
b AS (
  SELECT lang, n_tok,
    CASE
      WHEN n_tok <= 16 THEN '0-16'
      WHEN n_tok <= 32 THEN '17-32'
      WHEN n_tok <= 64 THEN '33-64'
      WHEN n_tok <= 128 THEN '65-128'
      ELSE '129+'
    END AS bucket
  FROM t
)
SELECT lang, bucket, count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
  CAST(max(n_tok) AS INTEGER) AS max_tokens
FROM b GROUP BY lang, bucket
"""


def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pack_sequences(load_table(spark, sf_dir, "documents"), ctx_len=256)
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("pack_tokens"),
    )


DOC_PACK_SQL = r"""
WITH t AS (
  SELECT doc_id, source,
    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok
  FROM documents
),
p AS (
  SELECT source,
    (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok) // 256 AS pack_id,
    n_tok
  FROM t
)
SELECT source, CAST(pack_id AS BIGINT) AS pack_id, count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS pack_tokens
FROM p GROUP BY source, pack_id
"""


PACK_CTX_LEN = 256


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source batch-efficiency report over `pack_sequences`' greedy
    packing: pack count, token totals, capacity utilization (integer
    ppm), and how many packs overflow / underfill the context budget —
    the number a training pipeline watches because wasted pad tokens are
    wasted FLOPs, and chronic overflow means documents straddle windows
    (truncation loss).  All arithmetic integer-exact (ppm by integral
    division, the oov_rate discipline); O(sources) output off the
    already-shuffled pack rollup — no second pass over the corpus."""
    packed = pack_sequences(load_table(spark, sf_dir, "documents"), PACK_CTX_LEN)
    per_pack = packed.groupBy("source", "pack_id").agg(
        F.sum("n_tok").cast("bigint").alias("pack_tokens")
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_packs"),
            F.sum("pack_tokens").cast("bigint").alias("total_tokens"),
            F.sum((F.col("pack_tokens") > PACK_CTX_LEN).cast("long"))
            .cast("bigint")
            .alias("overflow_packs"),
            F.sum((F.col("pack_tokens") < PACK_CTX_LEN).cast("long"))
            .cast("bigint")
            .alias("underfull_packs"),
        )
        .select(
            "source",
            "n_packs",
            "total_tokens",
            F.expr(f"total_tokens * 1000000 div (n_packs * {PACK_CTX_LEN})").alias(
                "util_ppm"
            ),
            "overflow_packs",
            "underfull_packs",
        )
        .orderBy("source")
    )


PACKING_EFFICIENCY_SQL = rf"""
WITH t AS (
  SELECT doc_id, source,
    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok
  FROM documents
),
p AS (
  SELECT source,
    (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok) // {PACK_CTX_LEN} AS pack_id,
    n_tok
  FROM t
),
per_pack AS (
  SELECT source, pack_id, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
  FROM p GROUP BY source, pack_id
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_packs,
  CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
  CAST(sum(pack_tokens) * 1000000 // (count(*) * {PACK_CTX_LEN}) AS BIGINT) AS util_ppm,
  CAST(sum(CASE WHEN pack_tokens > {PACK_CTX_LEN} THEN 1 ELSE 0 END) AS BIGINT) AS overflow_packs,
  CAST(sum(CASE WHEN pack_tokens < {PACK_CTX_LEN} THEN 1 ELSE 0 END) AS BIGINT) AS underfull_packs
FROM per_pack
GROUP BY source
ORDER BY source
"""


def q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 curation family COMPOSED end-to-end in one lazy plan
    (the doc_pipeline_e2e discipline): quality gate (token floor +
    punctuation ceiling, the stream router's rules) → SoftDeDup
    reweighting of the survivors (1/multiplicity in BIGINT micro-units)
    → leakage-safe group-disjoint split — then ONE per-split report:
    group/doc/token counts and the effective (down-weighted) document
    mass headed into each split.  Composition is the point: the gate's
    filter pushes into the scan, the dedup groupBy and the split
    bucketing share the same fingerprint key (one shuffle feeds both),
    and Catalyst sees the whole pipeline as a single plan.

    Scale: filter at scan speed → one fp groupBy → same-key join-back →
    O(splits) rollup.  No stage materializes an intermediate corpus."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_tok = F.size(ws_tokens(F.col("text")))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    kept = docs.filter((n_tok >= 5) & (n_punct * 5 < F.length("text"))).select(
        fingerprint_md5(F.col("text")).alias("fp"), n_tok.cast("bigint").alias("n_tok")
    )
    mult = kept.groupBy("fp").agg(
        F.count(F.lit(1)).alias("m"), F.sum("n_tok").cast("bigint").alias("g_tok")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("split:"), F.col("fp"))), 1, 15), 16, 10)
        .cast("bigint"),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tagged = mult.select(
        split.alias("split"),
        "m",
        "g_tok",
        # the m-copy group's effective mass: m docs at weight 1e6 div m
        # micro-units each — identical truncation to soft_dedup_weights,
        # so the composed report agrees with the standalone operator
        F.expr("m * (1000000 div m)").cast("bigint").alias("w_u"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("m").cast("bigint").alias("n_docs"),
            F.sum("g_tok").cast("bigint").alias("n_tokens"),
            F.round(F.sum("w_u") / 1_000_000.0, 4).alias("eff_docs"),
        )
        .orderBy("split")
    )


CURATION_PIPELINE_E2E_SQL = r"""
WITH kept AS (
  SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
      AS n_tok
  FROM documents
  WHERE len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) >= 5
    AND len(regexp_extract_all(text, '[^\w\s]')) * 5 < length(text)
),
mult AS (
  SELECT fp, count(*) AS m, CAST(sum(n_tok) AS BIGINT) AS g_tok
  FROM kept GROUP BY fp
),
tagged AS (
  SELECT
    CASE
      WHEN CAST(concat('0x', substring(md5('split:' || fp), 1, 15)) AS BIGINT) % 100 < 80
        THEN 'train'
      WHEN CAST(concat('0x', substring(md5('split:' || fp), 1, 15)) AS BIGINT) % 100 < 90
        THEN 'val'
      ELSE 'test'
    END AS split,
    m, g_tok, CAST(m * (1000000 // m) AS BIGINT) AS w_u
  FROM mult
)
SELECT split,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(m) AS BIGINT) AS n_docs,
  CAST(sum(g_tok) AS BIGINT) AS n_tokens,
  round(CAST(sum(w_u) AS BIGINT) / 1000000.0, 4) AS eff_docs
FROM tagged
GROUP BY split
ORDER BY split
"""


# per-source sampling rates for the driver query: crawl-heavy sources
# downsampled hard, curated ones kept — the classic mixture-rebalance shape
SAMPLE_RATES = {"src0": 100, "src1": 25, "src2": 10}


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    sampled = stratified_sample(load_table(spark, sf_dir, "documents"), SAMPLE_RATES)
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
        # membership checksum: order-insensitive, catches any off-by-one
        # in the hash-threshold rule that counts alone would miss
        F.sum(F.col("doc_id") * F.col("doc_id")).alias("id_checksum"),
    )


DOC_SAMPLE_SQL = r"""
WITH s AS (
  SELECT source, doc_id, n_chars,
    CAST('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b,
    CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 25 WHEN 'src2' THEN 10 ELSE 50 END AS pct
  FROM documents
)
SELECT source, count(*) AS n_kept,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(doc_id * doc_id) AS BIGINT) AS id_checksum
FROM s WHERE b < pct GROUP BY source
"""


def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    qd = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    # positional checksum (sum q[i]*i) pins every code's position without
    # comparing raw arrays across engines
    return qd.select(
        "vec_id",
        "scale",
        F.expr("cast(array_min(q) AS int)").alias("q_min"),
        F.expr("cast(array_max(q) AS int)").alias("q_max"),
        F.expr("aggregate(q, 0L, (acc, x) -> acc + x)").alias("q_sum"),
        F.expr(
            "aggregate(zip_with(q, sequence(1, size(q)), (x, i) -> cast(x AS bigint) * i), "
            "0L, (acc, x) -> acc + x)"
        ).alias("q_dot"),
    )


EMB_QUANTIZE_SQL = r"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
),
a AS (
  SELECT vec_id, vd, list_max(list_transform(vd, x -> abs(x))) AS amax FROM v
),
q AS (
  SELECT vec_id, amax,
    CASE WHEN amax = 0.0 THEN list_transform(vd, x -> 0)
    ELSE list_transform(vd, x -> CAST(floor(x * 127.0 / amax + 0.5) AS INTEGER)) END AS qv
  FROM a
)
SELECT vec_id,
  round(amax / 127.0, 6) AS scale,
  CAST(list_min(qv) AS INTEGER) AS q_min,
  CAST(list_max(qv) AS INTEGER) AS q_max,
  CAST(list_sum(qv) AS BIGINT) AS q_sum,
  CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS BIGINT) * i)) AS BIGINT) AS q_dot
FROM q
"""


def q_doc_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-data pipeline, end-to-end in ONE lazy plan:
    quality filter -> language ID -> exact dedup (keep lowest doc_id per
    normalized-text fingerprint) -> stratified downsample -> train/val/test
    split -> per-(lang, split) corpus stats.  Every stage is one of this
    repo's operators unchanged — the point is that they compose into a
    single Catalyst plan (filters/projections fuse; the only shuffles are
    the dedup groupBy and the final agg).

    Mirrors what `load_e2e` proves for the log-warehouse side
    (real_parse.pl §3.1), for the documents side."""
    from pyspark.sql import Window

    from realparse_spark.operators.text import langid_expr, token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count_ws(F.col("text"))
    qual = docs.filter(n_tok >= 20).withColumn("n_tok", n_tok)
    # exact dedup: min doc_id per normalized-text md5 (fingerprint op)
    w = Window.partitionBy(fingerprint_md5(F.col("text"))).orderBy("doc_id")
    deduped = qual.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    sampled = stratified_sample(deduped, SAMPLE_RATES)
    split = hash_split(sampled)
    _, pred = langid_expr(F.col("text"))
    return (
        split.withColumn("pred_lang", pred)
        .groupBy("pred_lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.sum(F.col("doc_id") * F.col("doc_id")).alias("id_checksum"),
        )
    )


def _doc_pipeline_sql() -> str:
    from realparse_spark.operators.text import STOPWORDS

    hit_exprs = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hit_exprs.append(
            f"len(list_filter(toks, x -> list_contains([{lst}], x))) AS hits_{lang}"
        )
    langs = list(STOPWORDS)
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN hits_{lang} = best AND best > 0 THEN '{lang}' ELSE {pred} END"
    return rf"""
WITH base AS (
  SELECT doc_id, text, source,
    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
qual AS (
  SELECT *, len(toks) AS n_tok FROM base WHERE len(toks) >= 20
),
dedup AS (
  SELECT *, row_number() OVER (
      PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
      ORDER BY doc_id) AS rn
  FROM qual
),
sampled AS (
  SELECT * FROM dedup
  WHERE rn = 1
    AND CAST('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
        < CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 25 WHEN 'src2' THEN 10 ELSE 50 END
),
split AS (
  SELECT *,
    CASE
      WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
      WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
      ELSE 'test'
    END AS split
  FROM sampled
),
hits AS (
  SELECT doc_id, split, n_tok, {', '.join(hit_exprs)} FROM split
),
lang AS (
  SELECT *, greatest({', '.join('hits_' + lang for lang in langs)}) AS best FROM hits
)
SELECT {pred} AS pred_lang, split,
  count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
  CAST(sum(doc_id * doc_id) AS BIGINT) AS id_checksum
FROM lang
GROUP BY 1, 2
"""


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 32, stride: int = 24
) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    token windows (`chunk_tokens` wide, advancing by `stride`, so
    consecutive chunks share `chunk_tokens - stride` tokens).  The unit of
    training becomes the chunk, not the document — the op every
    long-context corpus build needs before packing.

    Every chunk start < n_tokens is emitted (trailing chunks may be short;
    downstream filters drop them if unwanted) — a simple rule both engines
    reproduce exactly.

    Shape: narrow (tokenize → sequence → posexplode → slice) — zero
    shuffles, scan-speed at any scale; chunk count per doc is
    ceil(n/stride), so output size is linear in corpus tokens."""
    toks = docs.select("doc_id", ws_tokens(F.col("text")).alias("t"))
    n = F.size(F.col("t"))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    exploded = toks.select(
        "doc_id", "t", F.posexplode(starts).alias("chunk_id", "start")
    )
    chunk = F.slice(F.col("t"), F.col("start") + 1, chunk_tokens)
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents"))


DOC_CHUNK_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
starts AS (
  SELECT doc_id, t,
    unnest(range(0, greatest(len(t) - 1, 0) + 1, 24)) AS start,
    generate_subscripts(range(0, greatest(len(t) - 1, 0) + 1, 24), 1) - 1 AS chunk_id
  FROM toks
)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
  CAST(len(t[start + 1 : start + 32]) AS INTEGER) AS n_chunk_tokens,
  array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text
FROM starts
"""


def source_mix(docs: DataFrame) -> DataFrame:
    """Training-mix accounting: per-source doc/token counts, each source's
    share of total tokens, and the up/down-sampling weight that would give
    a uniform target mix (weight = target_share / actual_share).  The
    weights feed `stratified_sample`-style rate maps when rebalancing a
    corpus toward a prescribed domain mixture.

    Shape: one groupBy(source) plus a broadcast 1-row total — two tiny
    aggregations; the weight math never touches the docs again."""
    from realparse_spark.operators.text import token_count_ws

    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.col("text"))).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").cast("double").alias("_t"),
        F.count(F.lit(1)).alias("_ns"),
    )
    share = F.col("n_tokens") / F.col("_t")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 6).alias("token_share"),
            F.round((F.lit(1.0) / F.col("_ns")) / share, 6).alias("weight_uniform"),
        )
    )


def q_doc_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_mix(load_table(spark, sf_dir, "documents"))


DOC_SOURCE_MIX_SQL = r"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
    CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t, count(*) AS ns FROM per)
SELECT source, n_docs, n_tokens,
  round(n_tokens / t, 6) AS token_share,
  round((1.0 / ns) / (n_tokens / t), 6) AS weight_uniform
FROM per, tot
"""


# ---------------------------------------------------------------------------
# temperature-scaled language mixture (mT5-style alpha sampling)
# ---------------------------------------------------------------------------

LANG_MIX_ALPHA = 0.3


def lang_mix_temperature(docs: DataFrame, alpha: float = LANG_MIX_ALPHA) -> DataFrame:
    """Temperature-scaled language sampling rates: q_l ∝ p_l^alpha over
    the per-language token shares — the mT5/XLM-R recipe (Xue et al.
    2021, arXiv:2010.11934 §3.1; alpha=0.3) that boosts low-resource
    languages without flattening the mixture entirely.  Emits the raw
    share, the temperature share, and the boost factor (q/p — the
    up/down-sampling rate a sampler applies per language).

    Determinism: integer token counts → one division each for p (round
    6), then pow(p, alpha) rounds to 9 and the normalizing sum runs as
    an EXACT decimal over the O(langs) rollup (round-10 ADVICE: an
    unrounded double sum is partition-order-dependent) — both engines
    then divide identical decimal sums once, IEEE, per output column.

    Scale: ONE map-side-combined groupBy(lang) — O(langs) rows ever
    after; the normalization is a broadcast 1-row total."""
    from realparse_spark.operators.text import token_count_ws

    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count_ws(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("_t"))
    p = F.round(F.col("n_tokens") / F.col("_t"), 6)
    shared = per.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs", "n_tokens", p.alias("raw_share"),
        F.round(F.pow(p, F.lit(alpha)), 9).cast("decimal(18,9)").alias("_q_raw"),
    )
    qtot = shared.agg(F.sum("_q_raw").alias("_qt"))
    q = F.col("_q_raw").cast("double") / F.col("_qt").cast("double")
    return (
        shared.crossJoin(F.broadcast(qtot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "raw_share",
            F.round(q, 6).alias("temp_share"),
            # a language below ~0.5e-6 token share rounds to raw_share 0;
            # engines disagree on double/0 (Inf vs NULL), so emit NULL
            F.when(
                F.col("raw_share") > 0, F.round(q / F.col("raw_share"), 4)
            ).alias("boost"),
        )
        .orderBy("lang")
    )


def q_lang_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_mix_temperature(load_table(spark, sf_dir, "documents"))


LANG_MIX_TEMPERATURE_SQL = rf"""
WITH per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM per),
shared AS (
  SELECT lang, n_docs, n_tokens,
    round(n_tokens / t, 6) AS raw_share,
    -- round to 9 then sum as EXACT decimal: the normalizer must not be
    -- an order-dependent double accumulation (mirrors lang_mix_temperature)
    CAST(round(pow(round(n_tokens / t, 6), {LANG_MIX_ALPHA}), 9) AS DECIMAL(18,9)) AS q_raw
  FROM per, tot
),
qt AS (SELECT sum(q_raw) AS qt FROM shared)
SELECT lang, n_docs, n_tokens, raw_share,
  round(CAST(q_raw AS DOUBLE) / CAST(qt AS DOUBLE), 6) AS temp_share,
  CASE WHEN raw_share > 0
    THEN round((CAST(q_raw AS DOUBLE) / CAST(qt AS DOUBLE)) / raw_share, 4)
  END AS boost
FROM shared, qt
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# leakage-safe (group-disjoint) train/val/test split
# ---------------------------------------------------------------------------


def group_safe_split(
    docs: DataFrame, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Leakage-safe split audit: the split key is the document's
    exact-duplicate GROUP fingerprint (md5 of normalized text), not the
    doc_id — so all copies of a duplicated document land in the SAME
    split and the eval set can never contain a training near-twin (the
    classic benchmark-leak a plain hash_split ships at corpus scale;
    the ExactSubstr paper's motivating failure).  Emits per split:
    group/doc/token counts plus `leaked_groups`, the number of groups
    observed in more than one split — structurally ZERO here, published
    so a pipeline can assert it.

    Scale: one groupBy on the fingerprint (map-side combined), bucket
    from the group key's md5 (deterministic, the hash_split discipline),
    ONE O(splits) rollup.  No joins back to the corpus — the group table
    already carries the counts."""
    base = docs.select(
        fingerprint_md5(F.col("text")).alias("fp"),
        F.size(ws_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    groups = base.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("split:"), F.col("fp"))), 1, 15), 16, 10)
        .cast("bigint"),
        F.lit(100),
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tagged = groups.select(split.alias("split"), "n_docs", "n_tokens", "fp")
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    # a group is ONE row here, so it cannot straddle splits — the audit
    # column proves the property in-band rather than asserting it in prose
    leaks = (
        tagged.groupBy("fp")
        .agg(F.count_distinct("split").alias("n_splits"))
        .agg(
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_groups")
        )
    )
    return (
        per_split.crossJoin(F.broadcast(leaks))
        .select("split", "n_groups", "n_docs", "n_tokens", "leaked_groups")
        .orderBy("split")
    )


def q_group_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realparse_spark.sources.tables import fan_out

    return group_safe_split(fan_out(load_table(spark, sf_dir, "documents")))


GROUP_SAFE_SPLIT_SQL = r"""
WITH base AS (
  SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
      AS n_tokens
  FROM documents
),
groups AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM base GROUP BY fp
),
tagged AS (
  SELECT fp, n_docs, n_tokens,
    CASE
      WHEN CAST(concat('0x', substring(md5('split:' || fp), 1, 15)) AS BIGINT) % 100 < 80
        THEN 'train'
      WHEN CAST(concat('0x', substring(md5('split:' || fp), 1, 15)) AS BIGINT) % 100 < 90
        THEN 'val'
      ELSE 'test'
    END AS split
  FROM groups
),
per AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM tagged GROUP BY split
),
leaks AS (
  SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leaked_groups
  FROM (SELECT fp, count(DISTINCT split) AS ns FROM tagged GROUP BY fp)
)
SELECT split, n_groups, n_docs, n_tokens, leaked_groups
FROM per, leaks
ORDER BY split
"""


def stratified_take(
    docs: DataFrame, stratum_col: str, n_per_stratum: int, key_col: str = "doc_id"
) -> DataFrame:
    """EXACTLY-n-per-stratum deterministic sample ("take 1000 docs per
    language") — the companion to the fraction-based `doc_sample`:
    quotas, not rates.  Selection order is md5(key) (stable across runs,
    machines, partitionings — never `rand()`), with the key itself as
    the tiebreak so equal-hash rows (impossible in practice, cheap to
    guard) stay deterministic.

    Plan at scale: ONE shuffle on the stratum column; row_number is a
    per-partition window (no global sort).  A skewed stratum (one lang
    owning half the corpus) makes that window a straggler — for that
    corpus shape, pre-filter with `doc_sample` at a rate that
    overshoots the quota ~2×, then quota the survivors: the window then
    sees ~2n rows per stratum instead of the full stratum."""
    from pyspark.sql.window import Window

    rk = F.row_number().over(
        Window.partitionBy(stratum_col).orderBy(
            F.md5(F.col(key_col).cast("string")), F.col(key_col)
        )
    )
    return docs.withColumn("_rk", rk).filter(F.col("_rk") <= n_per_stratum).drop("_rk")


def q_doc_stratified_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    took = stratified_take(docs, "lang", 20)
    return (
        took.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_taken"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            # the exact sampled doc set, not just its size: any
            # ordering/tiebreak divergence changes this hash
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))))
            .alias("sample_digest"),
        )
        .orderBy("lang")
    )


DOC_STRATIFIED_TAKE_SQL = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
    row_number() OVER (
      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) AS rk
  FROM documents
),
took AS (SELECT * FROM ranked WHERE rk <= 20)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_taken,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS sample_digest
FROM took
GROUP BY lang
ORDER BY lang
"""


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under the oracle (promotes the pytest-only
    capability in test_formats.py to a driver row): the documents table
    is written in two epochs — epoch 0 (even doc_id) BEFORE the pipeline
    extracted `source`/`n_chars`, epoch 1 (odd doc_id) with them — then
    read back as ONE DataFrame via mergeSchema, the long-lived-warehouse
    story where old files are never rewritten.  The report counts
    backfilled-NULL rows per lang, which only comes out right if the
    merged read reconciles both physical schemas."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from realparse_spark.operators.load_query import persist_result

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="realparse_evolve_")
    try:
        p = os.path.join(root, "evolving")
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        ).write.mode("append").parquet(p)
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).write.mode("append").parquet(p)
        merged = spark.read.option("mergeSchema", "true").parquet(p)
        res = (
            merged.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(F.col("source").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_pre_evolution"),
                F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
                .cast("bigint")
                .alias("chars_post"),
            )
            .orderBy("lang")
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SCHEMA_EVOLUTION_SQL = """
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_pre_evolution,
  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_post
FROM documents
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# CCNet-style duplicated-segment removal (boilerplate scrub)
# ---------------------------------------------------------------------------

_SEG_TOKENS = 8
_SEG_DUP_THRESHOLD = 2


def remove_duplicated_segments(
    docs: DataFrame,
    seg_tokens: int = _SEG_TOKENS,
    dup_threshold: int = _SEG_DUP_THRESHOLD,
) -> DataFrame:
    """CCNet-style duplicated-segment scrub (Wenzek et al. 2020 remove
    duplicated *lines* across the corpus — headers, nav bars, cookie
    banners): segment every document, drop segments whose corpus-wide
    occurrence count reaches `dup_threshold`, and REASSEMBLE the
    surviving text in original order.  The fixture corpus has no
    newlines, so segmentation is fixed `seg_tokens`-token windows — the
    operator is the split -> count -> filter -> ordered-reassembly
    machinery, with the segmenter as the configurable policy.

    100 TB shape: segment rows carry (doc_id, pos, seg); the frequency
    table is ONE map-combined groupBy on the segment string; the scrub is
    a left-anti join against the (small) boilerplate set; reassembly
    groups by doc_id and sorts WITHIN the row (sort_array over the
    collected (pos, seg) structs — bounded by document length, never a
    global sort)."""
    toks = ws_tokens(F.col("text"))
    segs = F.expr(
        f"transform(sequence(0, cast(ceil(size(_t) / {seg_tokens}.0) as int) - 1),"
        f" i -> array_join(slice(_t, i * {seg_tokens} + 1, {seg_tokens}), ' '))"
    )
    lines = (
        docs.select("doc_id", toks.alias("_t"))
        .filter(F.size("_t") > 0)
        .select("doc_id", F.posexplode(segs).alias("pos", "seg"))
    )
    boiler = (
        lines.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= dup_threshold)
        .select("seg")
    )
    kept = lines.join(boiler, "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_clean"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
        .orderBy("doc_id")
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remove_duplicated_segments(
        fan_out(load_table(spark, sf_dir, "documents"))
    )


LINE_DEDUP_SQL = rf"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS _t
  FROM documents
),
lines AS (
  SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos,
    array_to_string(_t[(i - 1) * {_SEG_TOKENS} + 1 : (i - 1) * {_SEG_TOKENS} + {_SEG_TOKENS}], ' ') AS seg
  FROM t, unnest(range(1, CAST(ceil(len(_t) / {_SEG_TOKENS}.0) AS BIGINT) + 1)) AS u(i)
  WHERE len(_t) > 0
),
boiler AS (
  SELECT seg FROM lines GROUP BY seg HAVING count(*) >= {_SEG_DUP_THRESHOLD}
),
kept AS (
  SELECT l.* FROM lines l WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.seg = l.seg)
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
    string_agg(seg, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments FROM lines GROUP BY doc_id
)
SELECT t.doc_id, t.n_segments,
  coalesce(r.n_kept, 0) AS n_kept,
  coalesce(r.text_clean, '') AS text_clean
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# token-budget corpus sampling (fill a per-source budget from a
# deterministic permutation)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 4000  # chars per source


def token_budget_take(
    docs: DataFrame, budget: int = _MIX_BUDGET, by: str = "source"
) -> DataFrame:
    """Sample each source's docs in deterministic md5 order until a
    per-source token (here: char) budget fills — 'give me ~1B tokens at
    this mix' without materializing or sorting the corpus.

    100 TB shape — the naive form is a per-source ordered cumsum, i.e.
    ONE reducer per source (a hot source serializes).  This runs the
    selection two-phase instead: docs bucket by their md5 prefix (256
    buckets/source), bucket subtotals + prefix offsets decide whole
    buckets in O(sources x 256) rows, and only each source's single
    BOUNDARY bucket gets a fine per-doc cumsum (window over one
    bucket's docs).  The md5-prefix bucket order refines the full md5
    order, so the selection is IDENTICAL to the naive cumsum — the
    oracle states the naive form and must hash-match."""
    from pyspark.sql import Window

    d = docs.select(
        F.col(by).alias("src"),
        "doc_id",
        "n_chars",
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))).alias("sk"),
    ).withColumn("bkt", F.conv(F.substring("sk", 1, 2), 16, 10).cast("int"))
    bsum = d.groupBy("src", "bkt").agg(
        F.sum("n_chars").alias("bc"), F.count(F.lit(1)).alias("bn")
    )
    woff = (
        Window.partitionBy("src")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bsum.select(
        "src", "bkt", "bc", F.coalesce(F.sum("bc").over(woff), F.lit(0)).alias("off")
    )
    full = boff.filter(F.col("off") + F.col("bc") <= budget).select("src", "bkt")
    boundary = boff.filter(
        (F.col("off") <= budget) & (F.col("off") + F.col("bc") > budget)
    ).select("src", "bkt", "off")
    wfine = Window.partitionBy("src", "bkt").orderBy("sk", "doc_id")
    fine = (
        d.join(boundary, ["src", "bkt"])
        .withColumn("c", F.sum("n_chars").over(wfine))
        .filter(F.col("off") + F.col("c") <= budget)
        .select("src", "doc_id", "n_chars")
    )
    kept = d.join(full, ["src", "bkt"]).select("src", "doc_id", "n_chars").unionByName(fine)
    return (
        kept.groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_kept"),
        )
        .select(
            F.col("src").alias(by),
            "n_docs",
            "n_chars_kept",
            F.lit(budget).cast("bigint").alias("budget"),
            F.expr(f"n_chars_kept * 1000000 div {budget}").alias("fill_ppm"),
        )
        .orderBy(by)
    )


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_budget_take(load_table(spark, sf_dir, "documents"))


TOKEN_BUDGET_MIX_SQL = f"""
WITH d AS (
  SELECT source AS src, doc_id, n_chars,
    md5('mix:' || CAST(doc_id AS VARCHAR)) AS sk
  FROM documents
),
cum AS (
  SELECT src, doc_id, n_chars,
    sum(n_chars) OVER (PARTITION BY src ORDER BY sk, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM d
),
kept AS (SELECT * FROM cum WHERE c <= {_MIX_BUDGET})
SELECT src AS source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS n_chars_kept,
  CAST({_MIX_BUDGET} AS BIGINT) AS budget,
  CAST(sum(n_chars) * 1000000 // {_MIX_BUDGET} AS BIGINT) AS fill_ppm
FROM kept GROUP BY src ORDER BY source
"""


# ---------------------------------------------------------------------------
# deterministic epoch shuffle + batch packing (training-data delivery)
# ---------------------------------------------------------------------------

_N_EPOCHS = 3
_BATCH_SIZE = 64


def epoch_shuffle_batches(
    docs: DataFrame, n_epochs: int = _N_EPOCHS, batch_size: int = _BATCH_SIZE
) -> DataFrame:
    """Deterministic multi-epoch training order: each epoch permutes the
    corpus by md5('epoch:e:doc_id') and packs the permutation into
    fixed-size batches — reproducible data ordering without any stored
    shuffle state (resume-from-step just recomputes ranks).

    The per-epoch global rank uses the two-phase distributed pattern
    (cf. sorted_neighborhood_pairs): repartitionByRange on (epoch, key),
    per-partition row_number, broadcast prefix offsets — no single
    partition ever sees more than its range slice.  Output is the batch
    MANIFEST (epoch, batch, sizes + a content checksum), which is what a
    trainer's data loader actually consumes; emitting doc-level rows
    would just be the ranked table itself."""
    e = (
        docs.select("doc_id", "n_chars")
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.lit(n_epochs))))
        .withColumn(
            "sk",
            F.md5(
                F.concat_ws(
                    ":", F.lit("epoch"), F.col("epoch").cast("string"),
                    F.col("doc_id").cast("string"),
                )
            ),
        )
    )
    ranked = rank_distributed(
        e, ["sk", "doc_id"], rank_col="rank", partition_cols=("epoch",), n_ranges=16
    ).select("epoch", "doc_id", "n_chars", "sk", "rank")
    batch = F.floor((F.col("rank") - 1) / batch_size).cast("int")
    return (
        ranked.groupBy("epoch", batch.alias("batch_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.min("rank").cast("bigint").alias("rank_lo"),
            F.max("rank").cast("bigint").alias("rank_hi"),
            # order-insensitive content checksum so the manifest pins WHICH
            # docs landed in the batch, not just how many
            F.sum(F.conv(F.substring("sk", 1, 8), 16, 10).cast("long"))
            .cast("bigint")
            .alias("member_sum"),
        )
        .orderBy("epoch", "batch_id")
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return epoch_shuffle_batches(load_table(spark, sf_dir, "documents"))


EPOCH_SHUFFLE_SQL = f"""
WITH e AS (
  SELECT doc_id, n_chars, CAST(ep AS INTEGER) AS epoch,
    md5('epoch:' || CAST(ep AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS sk
  FROM documents, unnest(range(1, {_N_EPOCHS} + 1)) AS u(ep)
),
ranked AS (
  SELECT epoch, doc_id, n_chars, sk,
    row_number() OVER (PARTITION BY epoch ORDER BY sk, doc_id) AS rank
  FROM e
)
SELECT epoch, CAST((rank - 1) // {_BATCH_SIZE} AS INTEGER) AS batch_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS n_chars,
  CAST(min(rank) AS BIGINT) AS rank_lo,
  CAST(max(rank) AS BIGINT) AS rank_hi,
  CAST(sum(CAST('0x' || substring(sk, 1, 8) AS BIGINT)) AS BIGINT) AS member_sum
FROM ranked
GROUP BY 1, 2
ORDER BY epoch, batch_id
"""


# ---------------------------------------------------------------------------
# CSV landing-zone quarantine (malformed-row routing under the oracle)
# ---------------------------------------------------------------------------

QUARANTINE_MOD = 97  # doc_id % 97 == 0 lines are corrupted in the fixture


def q_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-CSV ingest lifecycle (sources/formats.py
    `read_csv_quarantine`): the documents table is exported to a CSV
    landing zone with every ``doc_id % 97 == 0`` line CORRUPTED (its
    numeric field replaced by a non-numeric token), read back under
    PERMISSIVE quarantine routing, and reported per source — row count,
    clean rows, quarantined rows, and the character mass that survived.
    A FAILFAST read would kill the job on line one; a silent-null read
    would lose the quarantine count; this is the row-level routing
    every landing zone needs.  The oracle recomputes the planted
    corruption rule from the documents table, so a row routed to the
    wrong side (or dropped) breaks the compare — including that
    Spark's PERMISSIVE parse keeps the GOOD fields of a bad row (the
    quarantined rows still group under their true source)."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from realparse_spark.operators.load_query import persist_result
    from realparse_spark.sources.formats import read_csv_quarantine

    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.col("source"),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(QUARANTINE_MOD)) == 0, F.lit("xx")
            ).otherwise(F.col("n_chars").cast("string")),
        ).alias("value")
    )
    root = tempfile.mkdtemp(prefix="realparse_quarantine_")
    try:
        zone = os.path.join(root, "landing")
        lines.write.mode("overwrite").text(zone)
        good, bad = read_csv_quarantine(
            spark, zone, "doc_id long, source string, n_chars long", header="false"
        )
        tagged = good.select("source", F.col("n_chars"), F.lit(0).alias("_q")).unionByName(
            bad.select("source", F.lit(None).cast("long").alias("n_chars"), F.lit(1).alias("_q"))
        )
        res = (
            tagged.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(1 - F.col("_q")).cast("bigint").alias("n_good"),
                F.sum("_q").cast("bigint").alias("n_quarantined"),
                F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
                .cast("bigint")
                .alias("chars_kept"),
            )
            .orderBy("source")
        )
        return persist_result(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


CSV_QUARANTINE_SQL = rf"""
SELECT source,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(*) FILTER (WHERE doc_id % {QUARANTINE_MOD} <> 0) AS BIGINT) AS n_good,
  CAST(count(*) FILTER (WHERE doc_id % {QUARANTINE_MOD} = 0) AS BIGINT) AS n_quarantined,
  CAST(sum(CASE WHEN doc_id % {QUARANTINE_MOD} <> 0 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
FROM documents
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# T5-style span-corruption planning (denoising-objective mask layout)
# ---------------------------------------------------------------------------

SPAN_TOKENS = 3  # mean/fixed span length (T5 default)
SPAN_EVERY = 20  # one span per 20 tokens ~ 15% corruption at span length 3


def span_corruption_plan(docs: DataFrame, subset_mod: int = 100) -> DataFrame:
    """Deterministic T5-style span-corruption layout (Raffel et al. 2020
    denoising objective: mask ~15% of tokens in mean-length-3 spans and
    replace each with a sentinel): per planned document one row per
    span — (doc_id, span_idx, start_tok, len_tok) — the mask plan a
    denoising-pretraining pipeline materializes next to the packed
    batches so target construction is reproducible across reruns.

    Layout rule (hash-placed, collision-free BY CONSTRUCTION): a doc
    with n tokens gets n div SPAN_EVERY spans, one per equal segment of
    seg = n div n_spans >= SPAN_EVERY tokens; span i starts at
    seg_start + md5('span:'||doc_id||':'||i) % (seg - SPAN_TOKENS + 1)
    — spans live in disjoint segments, so they can NEVER overlap (a
    property test pins this), and md5 placement reproduces in any
    engine (the `hash_split` discipline).  Docs under SPAN_EVERY tokens
    get no spans — too short to corrupt at rate.

    Scale: pure in-row arithmetic + one bounded explode (n/20 rows per
    doc); no shuffle, no Python; the subset_mod prefilter is pushed to
    the scan."""
    from realparse_spark.operators.text import token_count_ws

    n_tok = token_count_ws(F.col("text"))
    base = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(subset_mod)) == 0)
        .select("doc_id", n_tok.cast("bigint").alias("n"))
        .filter(F.col("n") >= SPAN_EVERY)
        .select(
            "doc_id", "n", F.expr(f"n div {SPAN_EVERY}").alias("n_spans")
        )
    )
    spans = base.select(
        "doc_id",
        "n",
        "n_spans",
        F.explode(F.sequence(F.lit(1), F.col("n_spans"))).alias("span_idx"),
    )
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("span:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("span_idx").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.expr(f"n div n_spans - {SPAN_TOKENS} + 1"),
    )
    return spans.select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        (
            (F.col("span_idx") - 1) * F.expr("n div n_spans") + h
        ).alias("start_tok"),
        F.least(F.lit(SPAN_TOKENS).cast("bigint"), F.col("n")).alias("len_tok"),
    ).orderBy("doc_id", "span_idx")


def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_corruption_plan(fan_out(load_table(spark, sf_dir, "documents")))


SPAN_CORRUPTION_PLAN_SQL = rf"""
WITH base AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n
  FROM documents
  WHERE doc_id % 100 = 0
    AND len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) >= {SPAN_EVERY}
),
spans AS (
  SELECT doc_id, n, n // {SPAN_EVERY} AS n_spans,
    unnest(range(1, n // {SPAN_EVERY} + 1)) AS span_idx
  FROM base
)
SELECT doc_id, CAST(span_idx AS INTEGER) AS span_idx,
  (span_idx - 1) * (n // n_spans)
    + CAST(concat('0x', substring(md5('span:' || doc_id || ':' || span_idx), 1, 8)) AS BIGINT)
      % (n // n_spans - {SPAN_TOKENS} + 1) AS start_tok,
  least({SPAN_TOKENS}, n) AS len_tok
FROM spans
ORDER BY doc_id, span_idx
"""


QUERIES = {
    "schema_evolution": q_schema_evolution,
    "span_corruption_plan": q_span_corruption_plan,
    "csv_quarantine": q_csv_quarantine,
    "line_dedup": q_line_dedup,
    "epoch_shuffle": q_epoch_shuffle,
    "token_budget_mix": q_token_budget_mix,
    "doc_stratified_take": q_doc_stratified_take,
    "doc_split": q_doc_split,
    "doc_length_buckets": q_doc_length_buckets,
    "doc_pack": q_doc_pack,
    "doc_sample": q_doc_sample,
    "doc_weighted_sample": q_doc_weighted_sample,
    "emb_quantize": q_emb_quantize,
    "doc_pipeline_e2e": q_doc_pipeline_e2e,
    "doc_source_mix": q_doc_source_mix,
    "doc_chunk": q_doc_chunk,
    "lang_mix_temperature": q_lang_mix_temperature,
    "group_safe_split": q_group_safe_split,
    "packing_efficiency": q_packing_efficiency,
    "curation_pipeline_e2e": q_curation_pipeline_e2e,
}

ORACLES = {
    "schema_evolution": SCHEMA_EVOLUTION_SQL,
    "span_corruption_plan": SPAN_CORRUPTION_PLAN_SQL,
    "csv_quarantine": CSV_QUARANTINE_SQL,
    "line_dedup": LINE_DEDUP_SQL,
    "epoch_shuffle": EPOCH_SHUFFLE_SQL,
    "token_budget_mix": TOKEN_BUDGET_MIX_SQL,
    "doc_stratified_take": DOC_STRATIFIED_TAKE_SQL,
    "doc_split": DOC_SPLIT_SQL,
    "doc_length_buckets": DOC_LENGTH_BUCKETS_SQL,
    "doc_pack": DOC_PACK_SQL,
    "doc_sample": DOC_SAMPLE_SQL,
    "doc_weighted_sample": DOC_WEIGHTED_SAMPLE_SQL,
    "emb_quantize": EMB_QUANTIZE_SQL,
    "doc_pipeline_e2e": _doc_pipeline_sql(),
    "doc_source_mix": DOC_SOURCE_MIX_SQL,
    "doc_chunk": DOC_CHUNK_SQL,
    "lang_mix_temperature": LANG_MIX_TEMPERATURE_SQL,
    "group_safe_split": GROUP_SAFE_SPLIT_SQL,
    "packing_efficiency": PACKING_EFFICIENCY_SQL,
    "curation_pipeline_e2e": CURATION_PIPELINE_E2E_SQL,
}
