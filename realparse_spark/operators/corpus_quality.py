"""Corpus-quality / curation operators a large-scale training-data
pipeline runs before (and while) training: PII auditing, vocabulary
shape (Zipf) fitting, n-gram novelty against the growing corpus,
per-source adaptive length filtering, and content-defined-chunk (CDC)
partial-duplication measurement.

These extend the reference's data-quality surface (pull_report.pl's
per-customer audit rollup — counts / max / averages per entity,
`pull_report.pl:34-60` — generalized to per-source corpus curation)
with the curation steps published LLM-data pipelines
(CCNet, Gopher/MassiveText, RefinedWeb) apply at web scale.  Every
operator is pure DataFrame/expression work — no Python row UDFs — and
each has an exact DuckDB oracle.

Scale notes per operator are in the docstrings; the common theme: per
document work is scan-local (regexp/HOF arithmetic), cross-document
work is one or two hash-partitioned aggregations, and every small
lookup side is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realparse_spark.operators.dedup import word_ngrams
from realparse_spark.operators.distrank import rank_distributed
from realparse_spark.operators.text import WINNOW_P, _poly_hash_expr, fingerprint_md5, ws_tokens
from realparse_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# PII density audit
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"


def pii_density(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source PII exposure audit: how many documents carry PII, how
    dense it is per kilobyte, and the worst single document — the report
    a pipeline reads to decide which sources need scrubbing before the
    per-document `redact_pii` pass.

    Scale: two regexp_count scans per row (scan-speed, shuffle-free),
    then ONE groupBy(source) — O(sources) output.  100 TB shape: the
    regex work rides the scan; the aggregation is a map-side-combined
    rollup on a low-cardinality key."""
    t = F.col(text_col)
    n_pii = F.regexp_count(t, F.lit(_EMAIL_RE)) + F.regexp_count(t, F.lit(_PHONE_RE))
    # greatest(n_chars, 1): a zero-length document must not produce
    # Inf/NaN density (and engines disagree on x/0), so it scores as if
    # one char long — mirrored in PII_DENSITY_SQL
    per_doc = docs.select(
        "source",
        n_pii.alias("n_pii"),
        (n_pii * 1000.0 / F.greatest(F.col("n_chars"), F.lit(1))).alias("density"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_pii") > 0).cast("long")).alias("docs_with_pii"),
            F.sum("n_pii").alias("total_pii"),
            F.round(F.avg("density"), 4).alias("avg_density_kb"),
            F.round(F.max("density"), 4).alias("max_density_kb"),
        )
        .orderBy("source")
    )


def q_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture corpus carries no PII, so the query plants a
    deterministic, doc_id-varying amount (0-2 emails, 0-1 phones — same
    arithmetic in the oracle) and audits it."""
    from realparse_spark.sources.tables import fan_out

    # fan_out: two corpus-wide regexp_count scans on single-row-group
    # fixtures would otherwise run as one task
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    planted = docs.select(
        "source",
        "n_chars",
        F.concat(
            F.col("text"),
            F.expr(
                "repeat(format_string(' ping user%d@example.com', doc_id), "
                "pmod(doc_id, 3))"
            ),
            F.expr("repeat(' call 555-0199 now', pmod(doc_id, 2))"),
        ).alias("text"),
    )
    return pii_density(planted)


PII_DENSITY_SQL = r"""
WITH planted AS (
  SELECT source, n_chars,
    text || repeat(printf(' ping user%d@example.com', doc_id), doc_id % 3)
         || repeat(' call 555-0199 now', doc_id % 2) AS text
  FROM documents
),
scored AS (
  SELECT source,
    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      + len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{4}\b')) AS n_pii,
    n_chars
  FROM planted
)
SELECT source,
  count(*) AS n_docs,
  CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
  CAST(sum(n_pii) AS BIGINT) AS total_pii,
  round(avg(n_pii * 1000.0 / greatest(n_chars, 1)), 4) AS avg_density_kb,
  round(max(n_pii * 1000.0 / greatest(n_chars, 1)), 4) AS max_density_kb
FROM scored
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# corpus datasheet: the one-query per-source summary card
# ---------------------------------------------------------------------------


def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source datasheet (Gebru et al. 2021, "Datasheets for
    Datasets", arXiv:1803.09010 — the composition section as a QUERY):
    doc/token counts, language spread, exact-duplicate share, quality
    keep rate (the stream router's rules), and mean document length —
    the one table a consumer reads before touching a source, assembled
    in ONE plan instead of five separate report runs.

    Scale: per-doc features ride the scan; duplicate multiplicity is
    the soft_dedup fp groupBy + same-key join-back; ONE final
    groupBy(source) with O(sources) output.  Integral ppm everywhere
    (no float division).  100 TB shape: two shuffles total (fp, then
    source), both map-side combined."""
    from realparse_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_tok = F.size(ws_tokens(F.col("text")))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    base = docs.select(
        "source",
        "lang",
        fingerprint_md5(F.col("text")).alias("fp"),
        n_tok.cast("bigint").alias("n_tok"),
        ((n_tok >= 5) & (n_punct * 5 < F.length("text")))
        .cast("long")
        .alias("keep"),
    )
    # `base` feeds BOTH the multiplicity rollup and the join-back side:
    # without a cut each side re-runs the tokenize/regex/md5 scan of the
    # full text (guide §2.4) — materialize the compact per-doc feature
    # row once
    base = base.localCheckpoint(eager=False)
    mult = base.groupBy("fp").agg(F.count(F.lit(1)).alias("m"))
    joined = base.join(mult, "fp")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
            F.sum((F.col("m") > 1).cast("long")).cast("bigint").alias("n_dup_docs"),
            F.sum("keep").cast("bigint").alias("n_keep"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_langs",
            F.expr("n_dup_docs * 1000000 div n_docs").cast("bigint").alias("dup_ppm"),
            F.expr("n_keep * 1000000 div n_docs").cast("bigint").alias("keep_ppm"),
            F.expr("n_tokens div n_docs").cast("bigint").alias("mean_doc_tokens"),
        )
        .orderBy("source")
    )


CORPUS_DATASHEET_SQL = r"""
WITH base AS (
  SELECT source, lang,
    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
      AS n_tok,
    CASE WHEN len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) >= 5
          AND len(regexp_extract_all(text, '[^\w\s]')) * 5 < length(text)
         THEN 1 ELSE 0 END AS keep
  FROM documents
),
mult AS (SELECT fp, count(*) AS m FROM base GROUP BY fp),
joined AS (SELECT b.*, m.m FROM base b JOIN mult m USING (fp))
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS dup_ppm,
  CAST(sum(keep) * 1000000 // count(*) AS BIGINT) AS keep_ppm,
  CAST(sum(n_tok) // count(*) AS BIGINT) AS mean_doc_tokens
FROM joined
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Zipf fit over the term-frequency head
# ---------------------------------------------------------------------------

ZIPF_TOP_N = 500


def vocab_zipf_slope(docs: DataFrame, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Least-squares slope of ln(freq) on ln(rank) over the top-`top_n`
    terms — the Zipf exponent.  Natural corpora sit near -1; a corpus
    whose head is much flatter or steeper signals boilerplate flooding
    or truncation, so pipelines track this as a drift metric.

    Scale: term counting is the canonical map-side-combined groupBy; the
    head is a TakeOrdered (per-partition heaps, no global sort), and the
    rank over the head is a single-partition row_number whose input the
    limit already bounded to `top_n` rows — the vocab_build pattern
    (text.py), allowlisted in the plan gate.  (Round 9 paid
    rank_distributed's range-shuffle + prefix-join machinery over this
    O(top_n) table and ran 3.97× its floor; a bounded window is the
    right tool when a LIMIT has already collapsed the input.)  The
    regression is one tiny aggregation over top_n rows."""
    from pyspark.sql import Window

    terms = (
        docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    head = terms.orderBy(F.col("freq").desc(), "term").limit(top_n)
    w = Window.orderBy(F.col("freq").desc(), "term")
    ranked = head.select("term", "freq", F.row_number().over(w).alias("rank"))
    xy = ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "ln_intercept"
        ),
    )


def q_vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realparse_spark.sources.tables import fan_out

    # fan_out: the tokenize/explode/map-side combine is the heavy stage
    # and single-row-group fixtures would serialize it into one task
    return vocab_zipf_slope(fan_out(load_table(spark, sf_dir, "documents")))


VOCAB_ZIPF_SLOPE_SQL = rf"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
  FROM documents
),
freqs AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
head AS (
  SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
  FROM freqs ORDER BY freq DESC, term LIMIT {ZIPF_TOP_N}
),
xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y FROM head),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x*y) AS sxy, sum(x*x) AS sxx
  FROM xy
)
SELECT n AS n_terms,
  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) AS zipf_slope,
  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 4) AS ln_intercept
FROM s
"""


# ---------------------------------------------------------------------------
# N-gram novelty vs the growing corpus
# ---------------------------------------------------------------------------


def ngram_novelty(docs: DataFrame, n: int = 2) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct word
    n-grams whose FIRST corpus occurrence (minimum doc_id) is this
    document.  Streams/crawls use this to measure how much genuinely new
    text each increment contributes; a novelty collapse is the signal to
    stop crawling a source.

    Scale: NO join back on the n-gram string key (re-shuffling every
    exploded gram row a second time dominated the first cut — 7.6 s at
    sf0.1).  Instead two independent aggregations over the exploded
    stream: per-doc gram counts (tiny shuffle, doc_id keys) and per-gram
    min(doc_id) — map-side combined on the string key ONCE — whose
    one-row-per-distinct-gram output rolls up by first_doc into the
    per-doc novel counts.  The final join is O(docs) x O(docs).  0.8 s
    at sf0.1; output identical."""
    grams = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("g")
    )
    # word_ngrams is distinct per doc, so this count is the gram-set size
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(F.coalesce("n_novel", F.lit(0)) / F.col("n_grams"), 4).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realparse_spark.sources.tables import fan_out

    # fan_out: the explode + string-key combine is compute-heavy and the
    # fixtures are single-row-group (one scan task otherwise)
    return ngram_novelty(fan_out(load_table(spark, sf_dir, "documents")))


NGRAM_NOVELTY_SQL = r"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
gsets AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 2),
                                 i -> array_to_string(t[i:i+1], ' '))) AS garr
  FROM w
),
grams AS (SELECT doc_id, unnest(garr) AS g FROM gsets),
first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
SELECT grams.doc_id AS doc_id,
  count(*) AS n_grams,
  CAST(sum(CASE WHEN first.first_doc = grams.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
  round(sum(CASE WHEN first.first_doc = grams.doc_id THEN 1 ELSE 0 END) * 1.0
        / count(*), 4) AS novelty
FROM grams JOIN first USING (g)
GROUP BY grams.doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Per-source adaptive length filter (Tukey fences on exact quartiles)
# ---------------------------------------------------------------------------


def adaptive_length_filter(docs: DataFrame) -> DataFrame:
    """Per-source length-outlier report: exact discrete quartiles of
    n_chars per source (element at ceil(n·p) of the sorted group —
    DuckDB quantile_disc semantics, probed empirically at n = 3..250),
    Tukey fences at 1.5·IQR, and how many
    documents each source would keep/drop.  Fixed global length cutoffs
    are wrong for mixed corpora (code vs chat vs web); per-source fences
    are the standard fix.

    Scale: the quartiles come from the shared two-phase distributed rank
    partitioned by source — NO per-group sort-in-memory aggregate (an
    exact percentile agg materializes each group in one task; a 100 TB
    source would OOM it).  The O(sources) threshold table broadcasts
    back for the keep/drop count."""
    base = docs.select("source", "n_chars", "doc_id")
    ranked = rank_distributed(
        base, ["n_chars", "doc_id"], rank_col="rn", partition_cols=["source"]
    )
    counts = base.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    pos = counts.select(
        "source",
        "cnt",
        F.ceil(F.col("cnt") * F.lit(0.25)).alias("p1"),
        F.ceil(F.col("cnt") * F.lit(0.75)).alias("p3"),
    )
    quarts = (
        ranked.join(F.broadcast(pos), "source")
        .filter((F.col("rn") == F.col("p1")) | (F.col("rn") == F.col("p3")))
        .groupBy("source")
        .agg(
            # when p1 == p3 (cnt == 1) the single surviving row satisfies
            # both when() branches, so q1 and q3 are both always set
            F.max(F.when(F.col("rn") == F.col("p1"), F.col("n_chars"))).alias("q1"),
            F.max(F.when(F.col("rn") == F.col("p3"), F.col("n_chars"))).alias("q3"),
        )
    )
    fences = quarts.select(
        "source",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        base.join(F.broadcast(fences), "source")
        .groupBy("source", "q1", "q3", "lo", "hi")
        .agg(
            F.sum(
                ((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
                .cast("long")
            ).alias("n_kept"),
            F.sum(
                ((F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi")))
                .cast("long")
            ).alias("n_dropped"),
        )
        .select(
            "source",
            F.col("q1").cast("int").alias("q1"),
            F.col("q3").cast("int").alias("q3"),
            F.round("lo", 2).alias("lo"),
            F.round("hi", 2).alias("hi"),
            "n_kept",
            "n_dropped",
        )
        .orderBy("source")
    )


def q_adaptive_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return adaptive_length_filter(load_table(spark, sf_dir, "documents"))


ADAPTIVE_LENGTH_FILTER_SQL = r"""
WITH quarts AS (
  SELECT source,
    quantile_disc(n_chars, 0.25) AS q1,
    quantile_disc(n_chars, 0.75) AS q3
  FROM documents GROUP BY source
),
fences AS (
  SELECT source, q1, q3,
    q1 - 1.5 * (q3 - q1) AS lo,
    q3 + 1.5 * (q3 - q1) AS hi
  FROM quarts
)
SELECT d.source AS source,
  CAST(f.q1 AS INTEGER) AS q1,
  CAST(f.q3 AS INTEGER) AS q3,
  CAST(round(f.lo, 2) AS DOUBLE) AS lo,
  CAST(round(f.hi, 2) AS DOUBLE) AS hi,
  CAST(sum(CASE WHEN d.n_chars BETWEEN f.lo AND f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN d.n_chars < f.lo OR d.n_chars > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM documents d JOIN fences f USING (source)
GROUP BY d.source, f.q1, f.q3, f.lo, f.hi
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Content-defined chunking duplication (CDC)
# ---------------------------------------------------------------------------

CDC_K = 5  # rolling-hash window (chars), shared with winnowing
CDC_MASK = 32  # boundary when hash % CDC_MASK == 0 -> ~32-char mean chunks


def cdc_chunks(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, source, chunk_md5) content-defined chunks: the document's
    normalized characters are cut wherever the winnowing k-gram rolling
    hash is ≡ 0 (mod CDC_MASK), so chunk boundaries depend only on LOCAL
    content — insertions shift every fixed-width block but leave CDC
    chunks outside the edit identical.  This is the chunking rsync/
    backup dedup uses, applied to text: it catches PARTIAL duplication
    (shared paragraphs inside otherwise-different documents) that
    whole-document hashing misses.

    All chunking is per-row HOF arithmetic at scan speed (the same
    `_poly_hash_expr` codegen as winnowing); no shuffle until the
    cross-document aggregation in `cdc_dup_report`."""
    hashes = (
        f"CASE WHEN size(_codes) >= {CDC_K} THEN "
        f"transform(sequence(1, size(_codes) - {CDC_K} + 1), i -> {_poly_hash_expr(CDC_K)}) "
        f"ELSE cast(array() AS array<bigint>) END"
    )
    # boundary AFTER the last char of a window whose hash matches the
    # mask; the final position is always a boundary so every char lands
    # in exactly one chunk.  The size(_h) = 0 guard matters: Spark's
    # sequence(1, 0) yields the DESCENDING [1, 0], whose 0 index makes
    # element_at throw — a 1-4-char document (norm shorter than the
    # hash window) must fall through to the single whole-string chunk,
    # exactly like the oracle's exclusive range().
    ends = (
        "array_sort(array_distinct(concat("
        "CASE WHEN size(_h) = 0 THEN cast(array() AS array<int>) ELSE "
        f"transform(filter(sequence(1, size(_h)), i -> element_at(_h, i) % {CDC_MASK} = 0), "
        f"i -> i + {CDC_K} - 1) END, "
        "array(length(_norm)))))"
    )
    starts = "concat(array(1), transform(slice(_ends, 1, size(_ends) - 1), e -> e + 1))"
    return (
        docs.withColumn(
            "_norm", F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]", "")
        )
        .filter(F.length("_norm") > 0)
        .withColumn(
            "_codes",
            F.expr(
                "transform(sequence(1, length(_norm)), "
                "i -> cast(ascii(substring(_norm, i, 1)) AS bigint))"
            ),
        )
        .withColumn("_h", F.expr(hashes))
        .withColumn("_ends", F.expr(ends))
        .withColumn("_starts", F.expr(starts))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(arrays_zip(_starts, _ends), "
                    "z -> md5(substring(_norm, z._starts, z._ends - z._starts + 1)))"
                )
            ).alias("chunk_md5"),
        )
    )


def cdc_dup_report(chunks: DataFrame) -> DataFrame:
    """Per-source partial-duplication report over CDC chunks: how many
    chunk occurrences are duplicates of a chunk seen anywhere else in
    the corpus (including within the same document).

    Scale: groupBy(chunk_md5) for global occurrence counts, re-join on
    the same key (co-partitioned — one shuffle each side), then the
    O(sources) rollup.  Hot boilerplate chunks concentrate occurrences,
    but the count table is one row per DISTINCT chunk, so the join's
    build/stream sides stay bounded by the corpus itself."""
    occ = chunks.groupBy("chunk_md5").agg(F.count(F.lit(1)).alias("occ"))
    return (
        chunks.join(occ, "chunk_md5")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("occ") > 1).cast("long")).alias("n_dup"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_chunks"), 4).alias("dup_ratio"),
        )
        .orderBy("source")
    )


def q_doc_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realparse_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return cdc_dup_report(cdc_chunks(docs))


DOC_CDC_DEDUP_SQL = rf"""
WITH c AS (
  SELECT doc_id, source,
    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
  FROM documents
  WHERE len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) > 0
),
codes AS (
  SELECT doc_id, source, norm,
    list_transform(regexp_extract_all(norm, '.'), ch -> CAST(ord(ch) AS BIGINT)) AS cs
  FROM c
),
h AS (
  SELECT doc_id, source, norm,
    CASE WHEN len(cs) >= {CDC_K} THEN
      list_transform(range(1, len(cs) - {CDC_K} + 2), i ->
        ((((((((cs[i] * 257 + cs[i+1]) % {WINNOW_P}) * 257 + cs[i+2]) % {WINNOW_P})
            * 257 + cs[i+3]) % {WINNOW_P}) * 257 + cs[i+4]) % {WINNOW_P}))
    ELSE [] END AS hs
  FROM codes
),
bounds AS (
  SELECT doc_id, source, norm,
    list_sort(list_distinct(
      list_transform(list_filter(range(1, len(hs) + 1), i -> hs[i] % {CDC_MASK} = 0),
                     i -> i + {CDC_K} - 1)
      || [len(norm)])) AS ends
  FROM h
),
chunks AS (
  SELECT doc_id, source,
    md5(substring(norm,
        CASE WHEN j = 1 THEN 1 ELSE ends[j-1] + 1 END,
        ends[j] - (CASE WHEN j = 1 THEN 1 ELSE ends[j-1] + 1 END) + 1)) AS chunk_md5
  FROM bounds, unnest(range(1, len(ends) + 1)) AS t(j)
),
occ AS (SELECT chunk_md5, count(*) AS occ FROM chunks GROUP BY chunk_md5)
SELECT source,
  count(*) AS n_chunks,
  CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  round(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_ratio
FROM chunks JOIN occ USING (chunk_md5)
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# rule-ensemble quality filter (C4 / Gopher style)
# ---------------------------------------------------------------------------

# Published-pipeline-shaped defaults, calibrated down to the fixture's
# range (Gopher uses 50-100k tokens and 0.2-0.6 repetition caps on web
# text; the synthetic corpus runs 10-99 tokens).  All are parameters of
# quality_filter_report — a deployment sets its own.
FILTER_MIN_TOKENS = 25
FILTER_MAX_DUP_WORD = 0.55
FILTER_MAX_TOP_BIGRAM = 0.125
FILTER_WORD_LEN = (3.0, 10.0)
FILTER_MIN_STOPWORD = 0.02


def quality_filter_report(
    docs: DataFrame,
    min_tokens: int = FILTER_MIN_TOKENS,
    max_dup_word: float = FILTER_MAX_DUP_WORD,
    max_top_bigram: float = FILTER_MAX_TOP_BIGRAM,
    word_len: tuple[float, float] = FILTER_WORD_LEN,
    min_stopword: float = FILTER_MIN_STOPWORD,
) -> DataFrame:
    """Rule-ensemble document filter in the C4 (Raffel et al. 2020) /
    Gopher (Rae et al. 2021) style: each document is tested against the
    full rule set, every firing is COUNTED (not short-circuited), and
    the per-source report shows which rules do the dropping — the table
    a curation run reads before committing a filter config, since a
    source where one rule removes 40% deserves a look before the tokens
    are gone.

    Rules: too short (token count), repeated-word fraction, dominant
    bigram share (boilerplate), mean word length outside a band (code /
    minified junk), stopword ratio below a floor (non-linguistic text).

    Scale: every feature is a per-row expression at scan speed — the
    bigram dominance reuses the sorted-run trick (text.py's
    top_bigram_count_expr, zero shuffles) — and the only shuffle is the
    final map-side-combined groupBy(source).  O(sources) output."""
    from realparse_spark.operators.text import stopword_hits, top_bigram_count_expr

    t = F.col("text")
    toks = ws_tokens(t)
    n_tok = F.size(toks)
    n_tok1 = F.greatest(n_tok, F.lit(1))
    n_chars = F.length(t)
    n_ws = F.size(F.regexp_extract_all(t, F.lit(r"\s"), 0))
    mean_wl = (n_chars - n_ws).cast("double") / n_tok1
    dup_word = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n_tok1
    stop_ratio = stopword_hits(t, "en").cast("double") / n_tok1
    top_bigram = top_bigram_count_expr(toks).cast("double") / F.greatest(
        n_tok - 1, F.lit(1)
    )

    r_short = (n_tok < min_tokens).cast("long")
    r_repeat = (dup_word > max_dup_word).cast("long")
    # sub-2-token docs have no bigrams: the rule cannot fire
    r_bigram = ((n_tok >= 2) & (top_bigram > max_top_bigram)).cast("long")
    r_wordlen = ((mean_wl < word_len[0]) | (mean_wl > word_len[1])).cast("long")
    r_stopword = (stop_ratio < min_stopword).cast("long")
    kept = (
        (r_short + r_repeat + r_bigram + r_wordlen + r_stopword) == 0
    ).cast("long")

    per_doc = docs.select(
        "source",
        r_short.alias("r_short"),
        r_repeat.alias("r_repeat"),
        r_bigram.alias("r_bigram"),
        r_wordlen.alias("r_wordlen"),
        r_stopword.alias("r_stopword"),
        kept.alias("kept"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum("r_short").alias("r_short"),
            F.sum("r_repeat").alias("r_repeat"),
            F.sum("r_bigram").alias("r_bigram"),
            F.sum("r_wordlen").alias("r_wordlen"),
            F.sum("r_stopword").alias("r_stopword"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 4).alias("keep_rate"),
        )
        .orderBy("source")
    )


def q_quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realparse_spark.sources.tables import fan_out

    # fan_out: the per-row feature expressions are the heavy stage on
    # single-row-group fixtures
    return quality_filter_report(fan_out(load_table(spark, sf_dir, "documents")))


QUALITY_FILTER_REPORT_SQL = rf"""
WITH tok AS (
  SELECT doc_id, source, text,
    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t,
    length(text) AS n_chars,
    len(regexp_extract_all(text, '\s')) AS n_ws,
    len(list_filter(string_split_regex(text, '\s+'),
        x -> list_contains(['the','and','of','to','in','is','that','for','with','on'], x)))
      AS n_stop
  FROM documents
),
bg AS (
  SELECT doc_id, max(c) AS top_cnt FROM (
    SELECT doc_id, g, count(*) AS c FROM (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 2),
          i -> t[i] || ' ' || t[i+1])) AS g
      FROM tok WHERE len(t) >= 2
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
),
feat AS (
  SELECT tok.source,
    CASE WHEN len(t) < {FILTER_MIN_TOKENS} THEN 1 ELSE 0 END AS r_short,
    CASE WHEN 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1)
              > {FILTER_MAX_DUP_WORD} THEN 1 ELSE 0 END AS r_repeat,
    CASE WHEN len(t) >= 2 AND CAST(bg.top_cnt AS DOUBLE) / greatest(len(t) - 1, 1)
              > {FILTER_MAX_TOP_BIGRAM} THEN 1 ELSE 0 END AS r_bigram,
    CASE WHEN CAST(n_chars - n_ws AS DOUBLE) / greatest(len(t), 1) < {FILTER_WORD_LEN[0]}
           OR CAST(n_chars - n_ws AS DOUBLE) / greatest(len(t), 1) > {FILTER_WORD_LEN[1]}
         THEN 1 ELSE 0 END AS r_wordlen,
    CASE WHEN CAST(n_stop AS DOUBLE) / greatest(len(t), 1) < {FILTER_MIN_STOPWORD}
         THEN 1 ELSE 0 END AS r_stopword
  FROM tok LEFT JOIN bg USING (doc_id)
)
SELECT source,
  count(*) AS n_docs,
  CAST(sum(CASE WHEN r_short + r_repeat + r_bigram + r_wordlen + r_stopword = 0
           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(r_short) AS BIGINT) AS r_short,
  CAST(sum(r_repeat) AS BIGINT) AS r_repeat,
  CAST(sum(r_bigram) AS BIGINT) AS r_bigram,
  CAST(sum(r_wordlen) AS BIGINT) AS r_wordlen,
  CAST(sum(r_stopword) AS BIGINT) AS r_stopword,
  round(CAST(sum(CASE WHEN r_short + r_repeat + r_bigram + r_wordlen + r_stopword = 0
              THEN 1 ELSE 0 END) AS BIGINT)
        * 1.0 / count(*), 4) AS keep_rate
FROM feat
GROUP BY source
ORDER BY source
"""


QUERIES = {
    "pii_density": q_pii_density,
    "vocab_zipf_slope": q_vocab_zipf_slope,
    "ngram_novelty": q_ngram_novelty,
    "adaptive_length_filter": q_adaptive_length_filter,
    "doc_cdc_dedup": q_doc_cdc_dedup,
    "quality_filter_report": q_quality_filter_report,
    "corpus_datasheet": q_corpus_datasheet,
}

ORACLES = {
    "pii_density": PII_DENSITY_SQL,
    "vocab_zipf_slope": VOCAB_ZIPF_SLOPE_SQL,
    "ngram_novelty": NGRAM_NOVELTY_SQL,
    "adaptive_length_filter": ADAPTIVE_LENGTH_FILTER_SQL,
    "doc_cdc_dedup": DOC_CDC_DEDUP_SQL,
    "quality_filter_report": QUALITY_FILTER_REPORT_SQL,
    "corpus_datasheet": CORPUS_DATASHEET_SQL,
}
