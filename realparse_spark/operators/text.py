"""Text-analysis operators over the `documents` table — the
training-data-pipeline surface (BASELINE.json north star; SURVEY.md §7.1 M5).

All pure column expressions (JVM-side, codegen): at 100 TB these run at
scan speed with zero Python overhead.  Each query has an exact DuckDB
oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from realparse_spark.sources.tables import fan_out, load_table

# A small fixed stopword inventory per language for the n-gram/stopword
# language-ID heuristic.  Deterministic and oracle-expressible; not a
# linguistics claim.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
}

# BPE-ish token regex: word pieces, numbers, or single non-space symbols —
# a deterministic stand-in for a real tokenizer's pre-tokenization.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count_ws(text: Column) -> Column:
    return F.size(ws_tokens(text))


def token_count_bpe(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def stopword_hits(text: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(ws_tokens(text), lambda t: t.isin(*words)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, token stats, punctuation/stopword ratios —
    the heuristics a pretraining-data filter computes per document."""
    t = F.col(text_col)
    n_tok = token_count_ws(t)
    n_chars = F.length(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0))
    n_stop = stopword_hits(t, "en")
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(
            (n_chars - F.size(F.regexp_extract_all(t, F.lit(r"\s"), 0))).cast("double")
            / F.greatest(n_tok, F.lit(1)),
            6,
        ).alias("mean_word_len"),
    )


def langid_expr(text: Column) -> tuple[dict[str, Column], Column]:
    """(per-language hit counts, predicted language) as composable column
    expressions — argmax of stopword hits, ties broken by fixed language
    order, 'und' when zero hits."""
    hits = {lang: stopword_hits(text, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    # reversed so earlier languages win ties (en > es > de > fr)
    for lang in reversed(list(STOPWORDS)):
        pred = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return hits, pred


def langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID: argmax of per-language stopword hit
    counts; ties broken by fixed language order; 'und' when zero hits."""
    hits, pred = langid_expr(F.col(text_col))
    return df.select(
        "doc_id",
        *[hits[lang].alias(f"hits_{lang}") for lang in STOPWORDS],
        pred.alias("pred_lang"),
    )


def fingerprint_md5(text: Column) -> Column:
    """md5 of the lowercased, trimmed, whitespace-collapsed text: the
    exact-duplicate key that every exact-dedup path groups or joins on."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: `fingerprint_md5` (the exact-dedup key), plus
    a 64-bit prefix as a compact join key."""
    fp = fingerprint_md5(F.col(text_col))
    return df.select(
        "doc_id",
        fp.alias("fp_md5"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp_60bit"),
    )


# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
# scheme): polynomial rolling hash over character k-grams, then the minimum
# hash of every w-hash window, deduplicated.  Guarantees any shared substring
# of length >= k + w - 1 produces a shared fingerprint.
WINNOW_K = 5  # k-gram length (chars)
WINNOW_W = 4  # winnowing window (hashes)
WINNOW_B = 257  # polynomial base
WINNOW_P = 1_000_000_007  # modulus; (P-1)*B + 127 fits comfortably in int64


def _poly_hash_expr(k: int) -> str:
    # Horner evaluation with mod at each step so intermediates stay < P*B
    e = "element_at(_codes, i)"
    for j in range(1, k):
        e = f"(({e}) * {WINNOW_B} + element_at(_codes, i + {j})) % {WINNOW_P}"
    return e


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints — one row per selected k-gram hash.

    All JVM-side codegen (transform/slice/array_min over a char-code array):
    O(len·k) arithmetic per document, shuffle-free, runs at scan speed.
    Normalization strips non-alphanumerics (standard for winnowing, so
    whitespace/punctuation differences don't perturb fingerprints).  Docs
    shorter than k chars yield no rows.  Fewer than w hashes -> one
    fingerprint (min of all), preserving the containment guarantee."""
    hashes = (
        f"CASE WHEN size(_codes) >= {k} THEN "
        f"transform(sequence(1, size(_codes) - {k} + 1), i -> {_poly_hash_expr(k)}) "
        f"ELSE cast(array() AS array<bigint>) END"
    )
    mins = (
        "CASE WHEN size(_h) = 0 THEN cast(array() AS array<bigint>) ELSE "
        f"array_distinct(transform(sequence(1, greatest(size(_h) - {w} + 1, 1)), "
        f"j -> array_min(slice(_h, j, {w})))) END"
    )
    return (
        df.withColumn(
            "_norm", F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]", "")
        )
        .withColumn(
            "_codes",
            F.expr(
                "CASE WHEN length(_norm) = 0 THEN cast(array() AS array<bigint>) "
                "ELSE transform(sequence(1, length(_norm)), "
                "i -> cast(ascii(substring(_norm, i, 1)) AS bigint)) END"
            ),
        )
        .withColumn("_h", F.expr(hashes))
        .select("doc_id", F.explode(F.expr(mins)).alias("fp"))
    )


# ---------------------------------------------------------------------------
# driver queries
# ---------------------------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(load_table(spark, sf_dir, "documents"))


TEXT_QUALITY_SQL = r"""
WITH tok AS (
  SELECT doc_id, text,
    length(text) AS n_chars,
    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens_ws,
    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_tokens_bpe,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
    len(list_filter(string_split_regex(text, '\s+'),
        x -> list_contains(['the','and','of','to','in','is','that','for','with','on'], x))) AS n_stop,
    len(regexp_extract_all(text, '\s')) AS n_ws
  FROM documents
)
SELECT doc_id,
  CAST(n_chars AS INTEGER) AS n_chars,
  CAST(n_tokens_ws AS INTEGER) AS n_tokens_ws,
  CAST(n_tokens_bpe AS INTEGER) AS n_tokens_bpe,
  round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
  round(CAST(n_stop AS DOUBLE) / greatest(n_tokens_ws, 1), 6) AS stopword_ratio,
  round(CAST(n_chars - n_ws AS DOUBLE) / greatest(n_tokens_ws, 1), 6) AS mean_word_len
FROM tok
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return langid(load_table(spark, sf_dir, "documents"))


def _langid_sql() -> str:
    hit_exprs = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hit_exprs.append(
            f"CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> list_contains([{lst}], x))) AS INTEGER) AS hits_{lang}"
        )
    langs = list(STOPWORDS)
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN hits_{lang} = best AND best > 0 THEN '{lang}' ELSE {pred} END"
    return f"""
WITH h AS (
  SELECT doc_id, {', '.join(hit_exprs)}
  FROM documents
),
b AS (
  SELECT *, greatest({', '.join('hits_' + lang for lang in langs)}) AS best FROM h
)
SELECT doc_id, {', '.join('hits_' + lang for lang in langs)}, {pred} AS pred_lang
FROM b
"""


# ---------------------------------------------------------------------------
# trained language ID: multinomial naive Bayes with Laplace smoothing
# ---------------------------------------------------------------------------

NB_TEST_MOD = 5  # doc_id % 5 == 0 is the held-out eval split


def nb_langid_confusion(docs: DataFrame, test_mod: int = NB_TEST_MOD) -> DataFrame:
    """Train a multinomial naive-Bayes language classifier on the
    ``doc_id % test_mod != 0`` split and report the held-out confusion
    matrix (true lang, predicted lang, doc count) — the TRAINED
    counterpart to the stopword-heuristic `text_langid` (a real pipeline
    bootstraps langid exactly this way: label a seed corpus, fit NB over
    token counts, read the confusion matrix before trusting it).

    Model (McCallum & Nigam 1998 multinomial NB): per class c,
    prior = ln(n_docs_c / n_train); per in-vocab token w,
    lp(w,c) = ln((cnt(w,c) + 1) / (tot_c + V)) with Laplace smoothing
    over the train vocabulary V; a test token unseen in class c scores
    the smoothed floor lp0_c = ln(1 / (tot_c + V)).  Test tokens outside
    the TRAIN vocabulary are dropped: under Laplace smoothing an OOV
    token adds the same lp0 shape to every class, so dropping it cannot
    change the argmax and keeps the score table V-bounded.

    Determinism: every ln rounds to 6 and enters the score as an exact
    DECIMAL term (tf * lp rounds to 6 before the decimal sum), the
    per-doc argmax is min(struct(-score, lang)) — exact-decimal compare
    with lexicographic lang tie-break — and every test doc survives even
    with zero in-vocab tokens (the class grid is the left side).

    Scale: class stats and the (V x C) smoothed-logprob table are
    map-side-combined aggregates over ONE train-token pass, broadcast to
    the scoring join (vocab-bounded, like `vocab_build`); scoring is one
    posting-shaped join of test term counts against the broadcast, C-way
    fan-out, map-side combined back to O(test_docs x C) and reduced to
    O(C^2) confusion cells.  No windows, no driver loops."""
    toks = docs.select(
        "doc_id", "lang", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    )
    is_test = F.pmod(F.col("doc_id"), F.lit(test_mod)) == 0
    # ONE tokenize pass: aggregate the exploded tokens to per-doc term
    # counts once and checkpoint; the vocab size, class-conditional counts
    # and the test-side term frequencies all derive from this compact
    # posting table instead of each re-running the regex explode (the plan
    # previously tokenized the corpus ~5x: vsz, wc x3 consumers, tf).
    base = (
        toks.groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)
    )
    train_post = base.filter(~is_test)

    n_train = docs.filter(~is_test).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train")
    )
    # per-(class, token) counts: sum of per-doc tf == count of raw tokens
    wc = (
        train_post.groupBy(F.col("lang").alias("c"), "w")
        .agg(F.sum("tf").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # train vocabulary size off the (V x C)-bounded wc, not the raw tokens
    vsz = wc.agg(F.countDistinct("w").cast("bigint").alias("v"))
    cls = (
        docs.filter(~is_test)
        .groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_c"))
        .join(
            wc.groupBy("c").agg(F.sum("cnt").cast("bigint").alias("tot_c")), "c"
        )
        .crossJoin(F.broadcast(n_train))
        .crossJoin(F.broadcast(vsz))
        .select(
            "c",
            F.round(F.log(F.col("n_c") / F.col("n_train")), 6)
            .cast("decimal(18,6)")
            .alias("prior"),
            F.round(F.log(F.lit(1.0) / (F.col("tot_c") + F.col("v"))), 6).alias(
                "lp0"
            ),
            (F.col("tot_c") + F.col("v")).alias("denom"),
        )
        # O(C) rows, FIVE consumers (lp's denom join, contrib's lp0 grid,
        # scores' prior grid, plus lp's own two references below): without
        # the cut each broadcast build re-derived cls from the docs scan +
        # wc aggregation + n_train/vsz rollups — 102 Exchanges in the
        # executed plan, ~20 after (guide §2.4)
        .localCheckpoint(eager=False)
    )
    lp = (
        wc.join(F.broadcast(cls.select("c", "denom")), "c")
        .select(
            "c",
            "w",
            F.round(F.log((F.col("cnt") + 1) / F.col("denom")), 6).alias("lp"),
        )
        # vocab-bounded (V x C); consumed twice (in-vocab filter + the
        # left join) — one materialization instead of two wc passes
        .localCheckpoint(eager=False)
    )
    tf = base.filter(is_test).select("doc_id", "w", "tf")
    # keep only train-vocab tokens (see docstring), then fan out per class
    contrib = (
        tf.join(F.broadcast(lp.select("w").distinct()), "w")
        .crossJoin(F.broadcast(cls.select("c", "lp0")))
        .join(F.broadcast(lp), ["c", "w"], "left")
        .select(
            "doc_id",
            "c",
            F.round(F.col("tf") * F.coalesce(F.col("lp"), F.col("lp0")), 6)
            .cast("decimal(28,6)")
            .alias("term"),
        )
    )
    truth = docs.filter(is_test).select("doc_id", "lang")
    scores = (
        truth.crossJoin(F.broadcast(cls.select("c", "prior")))
        .join(contrib, ["doc_id", "c"], "left")
        .groupBy("doc_id", "lang", "c", "prior")
        .agg(F.coalesce(F.sum("term"), F.lit(0).cast("decimal(28,6)")).alias("ts"))
        .select(
            "doc_id",
            "lang",
            "c",
            (F.col("prior").cast("decimal(28,6)") + F.col("ts")).alias("score"),
        )
    )
    pred = scores.groupBy("doc_id", "lang").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("c"))).alias("best")
    )
    return (
        pred.groupBy("lang", F.col("best.c").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def q_nb_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nb_langid_confusion(fan_out(load_table(spark, sf_dir, "documents")))


NB_LANGID_CONFUSION_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang,
    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
  FROM documents
),
train_toks AS (SELECT * FROM toks WHERE doc_id % {NB_TEST_MOD} <> 0),
test_toks AS (SELECT * FROM toks WHERE doc_id % {NB_TEST_MOD} = 0),
n_train AS (
  SELECT CAST(count(*) AS BIGINT) AS n_train FROM documents WHERE doc_id % {NB_TEST_MOD} <> 0
),
vsz AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM train_toks),
wc AS (
  SELECT lang AS c, w, CAST(count(*) AS BIGINT) AS cnt FROM train_toks GROUP BY 1, 2
),
cls AS (
  SELECT d.c,
    CAST(round(ln(CAST(d.n_c AS DOUBLE) / n_train.n_train), 6) AS DECIMAL(18,6)) AS prior,
    round(ln(1.0 / (t.tot_c + vsz.v)), 6) AS lp0,
    t.tot_c + vsz.v AS denom
  FROM (SELECT lang AS c, CAST(count(*) AS BIGINT) AS n_c
        FROM documents WHERE doc_id % {NB_TEST_MOD} <> 0 GROUP BY 1) d
  JOIN (SELECT c, CAST(sum(cnt) AS BIGINT) AS tot_c FROM wc GROUP BY 1) t USING (c)
  CROSS JOIN n_train CROSS JOIN vsz
),
lp AS (
  SELECT wc.c, wc.w, round(ln((wc.cnt + 1) / CAST(cls.denom AS DOUBLE)), 6) AS lp
  FROM wc JOIN cls USING (c)
),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM test_toks GROUP BY 1, 2
),
contrib AS (
  SELECT tf.doc_id, cls.c,
    CAST(round(tf.tf * coalesce(lp.lp, cls.lp0), 6) AS DECIMAL(28,6)) AS term
  FROM tf
  JOIN (SELECT DISTINCT w FROM lp) vocab USING (w)
  CROSS JOIN cls
  LEFT JOIN lp ON lp.c = cls.c AND lp.w = tf.w
),
truth AS (
  SELECT doc_id, lang FROM documents WHERE doc_id % {NB_TEST_MOD} = 0
),
scores AS (
  SELECT t.doc_id, t.lang, cls.c,
    CAST(cls.prior AS DECIMAL(28,6))
      + coalesce(sum(contrib.term), CAST(0 AS DECIMAL(28,6))) AS score
  FROM truth t
  CROSS JOIN cls
  LEFT JOIN contrib ON contrib.doc_id = t.doc_id AND contrib.c = cls.c
  GROUP BY t.doc_id, t.lang, cls.c, cls.prior
),
pred AS (
  SELECT doc_id, lang, c AS pred_lang
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
        FROM scores)
  WHERE rn = 1
)
SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


TEXT_FINGERPRINT_SQL = r"""
SELECT doc_id,
  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5,
  CAST(concat('0x', substring(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp_60bit
FROM documents
"""


# Materialized winnow fingerprint table, fingerprint-keyed per corpus —
# shared by text_winnow / text_contamination / doc_decontaminate (same
# snapshot discipline as dedup's posting/signature tables: fingerprints
# are the contamination index a pipeline stores next to the corpus).
_WINNOW_FP: dict[tuple, str] = {}


def _winnow_fp_for(spark: SparkSession, sf_dir: str) -> str:
    from realparse_spark.cache import fingerprint_key, snapshot_path

    def _build(tmp: str) -> None:
        winnow_fingerprints(
            fan_out(load_table(spark, sf_dir, "documents"))
        ).write.mode("overwrite").parquet(tmp)

    return snapshot_path(
        _WINNOW_FP,
        fingerprint_key(sf_dir, "documents", "winnow", WINNOW_K, WINNOW_W),
        "realparse_winnow_",
        _build,
    )


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out inside the builder: fixture parquet is a single row group ->
    # one scan task; the O(len·k) hash build must run on all cores (at
    # real scale input splits provide the parallelism)
    return spark.read.parquet(_winnow_fp_for(spark, sf_dir))


TEXT_WINNOW_SQL = r"""
WITH c AS (
  SELECT doc_id,
    list_transform(regexp_extract_all(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), '.'),
                   ch -> CAST(ord(ch) AS BIGINT)) AS codes
  FROM documents
),
h AS (
  SELECT doc_id,
    CASE WHEN len(codes) >= 5 THEN
      list_transform(range(1, len(codes) - 5 + 2), i ->
        ((((((((codes[i] * 257 + codes[i+1]) % 1000000007) * 257 + codes[i+2]) % 1000000007)
            * 257 + codes[i+3]) % 1000000007) * 257 + codes[i+4]) % 1000000007))
    ELSE [] END AS hs
  FROM c
),
m AS (
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN []
    ELSE list_distinct(list_transform(range(1, greatest(len(hs) - 4 + 1, 1) + 1),
                                      j -> list_min(hs[j:j+3]))) END AS fps
  FROM h
)
SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM m
"""


def contamination_pairs(
    fps: DataFrame, is_bench: Column, min_shared: int = 3, fp_cap: int = 200
) -> DataFrame:
    """Benchmark decontamination: (bench_doc, train_doc) pairs sharing >=
    min_shared winnowing fingerprints — the overlap check an LLM pipeline
    runs before training so eval data doesn't leak into the train split.

    `fps` is one (doc_id, fp) table (winnow_fingerprints output) covering
    both populations; `is_bench` splits it.  Fingerprints present in more
    than fp_cap docs are boilerplate and carry no containment signal —
    dropping them bounds the join fan-out exactly like the ngram df cap
    (at 100 TB the fp join is the shuffle; the cap keeps hot fps from
    exploding it)."""
    sides = fps.withColumn("_bench", is_bench)
    rare = (
        sides.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") <= fp_cap)
        .select("fp")
    )
    capped = sides.join(rare, "fp")
    bench = capped.filter(F.col("_bench")).select(F.col("doc_id").alias("bench_doc"), "fp")
    train = capped.filter(~F.col("_bench")).select(F.col("doc_id").alias("train_doc"), "fp")
    return (
        bench.join(train, "fp")
        .groupBy("bench_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic demo split: every 20th doc is the "benchmark" set
    fps = spark.read.parquet(_winnow_fp_for(spark, sf_dir))
    return contamination_pairs(fps, F.col("doc_id") % 20 == 0)


def _sql_splice(src: str, marker: str, replacement: str) -> str:
    """str.replace that fails loudly at import time if the marker text has
    drifted out of the source SQL (a silent no-op would otherwise surface
    only as invalid SQL at oracle run time).  A real raise, not an assert
    — the guarantee must survive ``python -O``."""
    if marker not in src:
        raise ValueError(f"SQL splice marker not found: {marker!r}")
    return src.replace(marker, replacement)


# extends the winnow CTE chain: fingerprint rows -> df cap -> bench/train
# self-join -> shared-fp counts
TEXT_CONTAMINATION_SQL = _sql_splice(
    TEXT_WINNOW_SQL,
    "SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM m",
    """,
fp_rows AS (
  SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM m
),
rare AS (
  SELECT fp FROM fp_rows GROUP BY fp HAVING count(*) <= 200
),
capped AS (
  SELECT r.doc_id, r.fp FROM fp_rows r JOIN rare USING (fp)
)
SELECT b.doc_id AS bench_doc, t.doc_id AS train_doc, count(*) AS n_shared
FROM capped b
JOIN capped t ON b.fp = t.fp
WHERE b.doc_id % 20 = 0 AND t.doc_id % 20 <> 0
GROUP BY 1, 2
HAVING count(*) >= 3""",
)


def q_doc_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the stopword-argmax heuristic
    (`langid`) scored against the corpus's ground-truth `lang` column —
    (truth, predicted) cells with counts and the within-truth share in
    integer ppm.  The eval-as-data pattern (emb_matryoshka_eval's
    discipline): a pipeline doesn't just RUN the classifier, it tracks
    where it's wrong per crawl snapshot, because a drifting confusion
    row (say fr→und climbing) is what says the stopword lists need
    retuning before the mixture math consumes the labels.

    Scale: the langid expressions ride the scan; ONE groupBy on
    (lang, pred_lang) — O(langs²) output; the within-truth share is a
    window over that bounded rollup keyed by truth lang (never the
    corpus).  Integral ppm, no float division."""
    docs = load_table(spark, sf_dir, "documents")
    hits, pred = langid_expr(F.col("text"))
    cells = (
        docs.select(F.col("lang").alias("truth"), pred.alias("pred_lang"))
        .groupBy("truth", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("truth")
    return (
        cells.select(
            "truth",
            "pred_lang",
            "n_docs",
            F.expr("n_docs * 1000000").cast("bigint").alias("_num"),
        )
        .withColumn("_den", F.sum("n_docs").over(w))
        .select(
            "truth",
            "pred_lang",
            "n_docs",
            F.expr("_num div _den").cast("bigint").alias("share_ppm"),
        )
        .orderBy("truth", "pred_lang")
    )


def _language_confusion_sql() -> str:
    langs = list(STOPWORDS)
    hit_exprs = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hit_exprs.append(
            f"CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> list_contains([{lst}], x))) AS INTEGER) AS hits_{lang}"
        )
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN hits_{lang} = best AND best > 0 THEN '{lang}' ELSE {pred} END"
    return f"""
WITH h AS (
  SELECT lang AS truth, {', '.join(hit_exprs)}
  FROM documents
),
b AS (
  SELECT *, greatest({', '.join('hits_' + lang for lang in langs)}) AS best FROM h
),
cells AS (
  SELECT truth, {pred} AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM b GROUP BY 1, 2
)
SELECT truth, pred_lang, n_docs,
  CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY truth) AS BIGINT) AS share_ppm
FROM cells
ORDER BY truth, pred_lang
"""


def source_overlap_matrix(fps: DataFrame, docs: DataFrame) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every source pair, the
    number of distinct winnowing fingerprints they share and the
    containment in each direction (shared / fps-in-source) — the
    "which crawl duplicated which" report that decides source-level
    dedup order before any per-document pass (a mirror site shows up as
    containment near 1.0 in one direction).  The per-document companion
    is `contamination_pairs`; this collapses to source granularity
    FIRST, so the join fans out per fingerprint by sources-sharing-it,
    never by documents-sharing-it.

    Scale: (source, fp) distinct is one shuffle; the self-join key is
    the fingerprint with ≤ |sources|² fan-out per fp — bounded by the
    SOURCE cardinality, which is what makes the matrix tractable where
    doc-level all-pairs is not.  With thousands of sources, apply the
    contamination_pairs fp_cap discipline first.  Output O(sources²)."""
    # sfp feeds THREE consumers (counts + both self-join sides) — without
    # a cut each re-runs the fp-to-source join + distinct (guide §2.4);
    # the materialized table is the compact (source, fp) distinct set
    sfp = (
        fps.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    counts = sfp.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_fps"))
    a = sfp.select(F.col("source").alias("source_a"), "fp")
    b = sfp.select(F.col("source").alias("source_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    ca = counts.select(
        F.col("source").alias("source_a"), F.col("n_fps").alias("n_fps_a")
    )
    cb = counts.select(
        F.col("source").alias("source_b"), F.col("n_fps").alias("n_fps_b")
    )
    return (
        shared.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_fps_a",
            "n_fps_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_fps_a"), 6).alias("contain_a"),
            F.round(F.col("n_shared") / F.col("n_fps_b"), 6).alias("contain_b"),
        )
        .orderBy("source_a", "source_b")
    )


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = spark.read.parquet(_winnow_fp_for(spark, sf_dir))
    return source_overlap_matrix(fps, load_table(spark, sf_dir, "documents"))


# extends the winnow CTE chain: fp rows -> (source, fp) distinct ->
# source-pair shared counts + directional containment
SOURCE_OVERLAP_MATRIX_SQL = _sql_splice(
    TEXT_WINNOW_SQL,
    "SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM m",
    """,
fp_rows AS (
  SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM m
),
sfp AS (
  SELECT DISTINCT d.source, r.fp
  FROM fp_rows r JOIN documents d USING (doc_id)
),
counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_fps FROM sfp GROUP BY source
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sfp a JOIN sfp b ON a.fp = b.fp AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.source_a, s.source_b,
  ca.n_fps AS n_fps_a, cb.n_fps AS n_fps_b, s.n_shared,
  round(s.n_shared / CAST(ca.n_fps AS DOUBLE), 6) AS contain_a,
  round(s.n_shared / CAST(cb.n_fps AS DOUBLE), 6) AS contain_b
FROM shared s
JOIN counts ca ON ca.source = s.source_a
JOIN counts cb ON cb.source = s.source_b
ORDER BY s.source_a, s.source_b""",
)


def top_bigram_count_expr(toks: Column) -> Column:
    """Count of the most-repeated adjacent word bigram, per-row (zero
    shuffles): the max count equals the longest run in the SORTED bigram
    array, computed with array_sort + aggregate (JVM higher-order
    functions) instead of explode + two hash aggregations + a join back.
    Bigram identity is an xxhash64 of the token pair (sorting longs, not
    concatenated strings — ~4x cheaper; a 64-bit collision within one
    document would be needed to change a count).  Meaningful only for
    inputs with >= 2 tokens — callers gate shorter docs."""
    # NON-distinct bigram identities (word_ngrams dedups, repetition must
    # not): hash adjacent pairs via zip_with against the shifted array,
    # then drop the final (token, null) pad element
    pair_hashes = F.zip_with(
        toks, F.slice(toks, 2, F.size(toks)), lambda a, b: F.xxhash64(a, b)
    )
    bigrams = F.slice(pair_hashes, 1, F.greatest(F.size(toks) - 1, F.lit(1)))

    def _run(st, g):
        new_run = F.when(g.eqNullSafe(st["prev"]), st["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"),
            new_run.cast("long").alias("run"),
            F.greatest(st["best"], new_run.cast("long")).alias("best"),
        )

    return F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit(None).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _run,
        lambda st: st["best"],
    )


def repetition_features(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition metrics: duplicate-word
    fraction and the most-repeated word bigram's share of all bigrams.
    High values mark boilerplate/spam that length or punctuation filters
    miss (Rae et al. 2021 'repetition' filters).

    Shape: a pure narrow projection — zero shuffles.  The most-repeated
    bigram's count equals the longest run in the SORTED bigram array, so
    it is computed per-row with array_sort + aggregate (JVM higher-order
    functions) instead of explode + two hash aggregations + a join back;
    and the bigram total is just n_tokens - 1.  Bigram identity is an
    xxhash64 of the token pair (sorting longs, not concatenated strings —
    ~4x cheaper; a 64-bit collision within one document would be needed
    to change a count).  Docs with fewer than 2 tokens are excluded."""
    toks = ws_tokens(F.col("text"))
    top_cnt = top_bigram_count_expr(toks)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        top_cnt.alias("top_bigram_cnt"),
    ).filter(F.col("n_tokens") >= 2).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
        ).alias("dup_word_frac"),
        "top_bigram_cnt",
        F.round(
            F.col("top_bigram_cnt").cast("double") / (F.col("n_tokens") - 1), 6
        ).alias("top_bigram_frac"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_features(load_table(spark, sf_dir, "documents"))


TEXT_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
base AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
    list_transform(range(1, greatest(len(t) - 2, 0) + 2),
      i -> t[i] || CASE WHEN i + 1 <= len(t) THEN ' ' || t[i+1] ELSE '' END) AS bg
  FROM toks
  WHERE len(t) >= 2
),
ex AS (SELECT doc_id, unnest(bg) AS g FROM base),
cnt AS (SELECT doc_id, g, count(*) AS c FROM ex GROUP BY 1, 2),
top AS (
  SELECT doc_id, max(c) AS top_bigram_cnt, CAST(sum(c) AS BIGINT) AS n_bigrams
  FROM cnt GROUP BY 1
)
SELECT b.doc_id,
  CAST(b.n_tokens AS INTEGER) AS n_tokens,
  round(1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6) AS dup_word_frac,
  t.top_bigram_cnt,
  round(CAST(t.top_bigram_cnt AS DOUBLE) / t.n_bigrams, 6) AS top_bigram_frac
FROM base b JOIN top t USING (doc_id)
"""


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-self-scored unigram language-model quality metric: per
    document, the mean log-probability of its tokens under the corpus's
    own unigram distribution — the shape of KenLM-style perplexity
    filtering (CCNet, Wenzek et al. 2020) with the LM replaced by an
    exactly-oracle-checkable unigram model.

    Shape: the explode runs exactly ONCE.  (doc_id, tok) term
    frequencies get the per-token corpus count via an unbounded window
    sum partitioned by tok — no vocab self-join (whose HOF-laden scan
    subtree defeats ReuseExchange canonicalization and would re-run the
    explode); the corpus token total is a narrow no-explode scan
    broadcast as a 1-row aggregate.  Three shuffles total — (doc_id,
    tok) combine, tok window, doc_id score — all map-side combinable or
    key-partitioned; nothing quadratic, nothing collected."""
    from pyspark.sql import Window

    toks = ws_tokens(F.col("text"))
    tf = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    with_cnt = tf.withColumn("cnt", F.sum("tf").over(Window.partitionBy("tok")))
    # corpus token total never needs the explode: one narrow scan
    total = docs.agg(F.sum(F.size(toks)).cast("long").alias("total"))
    return (
        with_cnt.join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("cnt") / F.col("total")))
                / F.sum("tf"),
                6,
            ).alias("avg_logprob"),
        )
    )


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_logprob(load_table(spark, sf_dir, "documents"))


def bigram_array(text_col: Column) -> Column:
    """Consecutive word-bigram array — the SHARED bigram identity
    convention (whitespace tokens joined by a single space; tokens are
    whitespace-free by construction so 'w1 w2' is unambiguous).  Used by
    `bigram_logprob` here and DSIR in selection.py — one definition so
    the LM features and the importance features cannot drift apart."""
    toks = ws_tokens(text_col)
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-self-scored bigram LM quality metric: per document, the
    mean log of p(w2|w1) = count(w1 w2) / count(w1 ·) under the corpus's
    own bigram counts — one conditioning order up from
    `unigram_logprob`, the next rung of the CCNet-style perplexity
    filter ladder.

    Shape mirrors the unigram op: the bigram explode runs ONCE; both the
    bigram count and the left-context total come from unbounded window
    sums over the (doc_id, bigram) term-frequency table (partitioned by
    bigram resp. its first word — no vocab self-joins that would re-run
    the explode).  Four key-partitioned shuffles, nothing quadratic."""
    from pyspark.sql import Window

    tf = (
        docs.select("doc_id", F.explode(bigram_array(F.col("text"))).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w1 = F.split(F.col("bg"), " ").getItem(0)
    with_cnt = tf.withColumn(
        "cnt_bg", F.sum("tf").over(Window.partitionBy("bg"))
    ).withColumn("cnt_w1", F.sum("tf").over(Window.partitionBy(w1)))
    return with_cnt.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.round(
            F.sum(F.col("tf") * F.log(F.col("cnt_bg") / F.col("cnt_w1")))
            / F.sum("tf"),
            6,
        ).alias("avg_logprob"),
    )


def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_logprob(load_table(spark, sf_dir, "documents"))


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document token Shannon entropy (nats) — the lexical-diversity
    quality signal (low entropy = repetitive/templated text; complements
    the run-length repetition metrics).  H = ln(n) - sum(tf*ln(tf))/n
    needs only the doc's own term frequencies: one explode + one
    (doc_id, tok) groupBy + one doc_id rollup, all map-side combinable —
    no corpus-wide state at all, unlike the LM scores."""
    toks = ws_tokens(F.col("text"))
    tf = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = F.sum("tf")
    return tf.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.round(
            F.log(n) - F.sum(F.col("tf") * F.log("tf")) / n, 6
        ).alias("token_entropy"),
    )


def q_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_entropy(load_table(spark, sf_dir, "documents"))


def boilerplate_fraction(docs: DataFrame, n: int = 3, df_threshold: int = 20) -> DataFrame:
    """Per-document boilerplate score: the fraction of its distinct word
    n-grams that are corpus-frequent (document frequency > threshold) —
    high values flag templated/navigation text that near-dup scoring
    deliberately ignores (the df_cap) but a curation pipeline wants to
    FILTER on.  The exact complement of the dedup df_cap rule, computed
    from the same inverted index shape.

    Shape: one shingle explode, per-gram df via an unbounded window sum
    partitioned by gram (no vocab self-join -> the explode runs once),
    one doc rollup.  Linear in corpus shingles."""
    from pyspark.sql import Window

    # function-local import: dedup.py imports from this module at top
    # level, so the reverse import must stay deferred
    from realparse_spark.operators.dedup import word_ngrams

    grams = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("g")
    )
    with_df = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    return with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("df") > df_threshold, 1).otherwise(0)).alias("n_common"),
        F.round(
            F.sum(F.when(F.col("df") > df_threshold, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("boilerplate_frac"),
    )


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_fraction(load_table(spark, sf_dir, "documents"))


TEXT_BOILERPLATE_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
gsets AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(t) - 3, 0) + 2),
                                 i -> array_to_string(t[i:i+2], ' '))) AS garr
  FROM toks
),
grams AS (SELECT doc_id, unnest(garr) AS g FROM gsets),
with_df AS (
  SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM grams
)
SELECT doc_id,
  count(*) AS n_grams,
  CAST(sum(CASE WHEN df > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
  round(sum(CASE WHEN df > 20 THEN 1 ELSE 0 END) / count(*), 6) AS boilerplate_frac
FROM with_df
GROUP BY doc_id
"""


TEXT_TOKEN_ENTROPY_SQL = r"""
WITH tk AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2)
SELECT doc_id,
  CAST(sum(tf) AS BIGINT) AS n_tokens,
  round(ln(CAST(sum(tf) AS DOUBLE)) - sum(tf * ln(CAST(tf AS DOUBLE))) / sum(tf), 6) AS token_entropy
FROM tf
GROUP BY doc_id
"""


TEXT_BIGRAM_LOGPROB_SQL = r"""
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
cw1 AS (SELECT string_split(bg, ' ')[1] AS w1, sum(tf) AS cnt_w1 FROM tf GROUP BY 1)
SELECT doc_id,
  CAST(sum(tf) AS BIGINT) AS n_bigrams,
  round(sum(tf * ln(CAST(cnt_bg AS DOUBLE) / cnt_w1)) / sum(tf), 6) AS avg_logprob
FROM tf
JOIN cbg USING (bg)
JOIN cw1 ON string_split(tf.bg, ' ')[1] = cw1.w1
GROUP BY doc_id
"""


TEXT_UNIGRAM_LOGPROB_SQL = r"""
WITH tk AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
vocab AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab)
SELECT doc_id,
  CAST(sum(tf) AS BIGINT) AS n_tokens,
  round(sum(tf * ln(CAST(cnt AS DOUBLE) / total)) / sum(tf), 6) AS avg_logprob
FROM tf JOIN vocab USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""


def tfidf_cosine_pairs(
    docs: DataFrame, threshold: float = 0.9, df_cap: int = 1000
) -> DataFrame:
    """Weighted sparse-vector document similarity — the tf-idf retrieval
    scorer as a pair join: cosine over per-doc term vectors with weight
    tf · (100000 div (df+1)).  The integer weight is the repo's idf
    surrogate (cf. doc_top_terms): monotone-decreasing in df like
    log-idf, but EXACT in both engines — float ln differs across libms
    and would flake the hash compare.  All dot products and norms are
    exact integer/decimal sums; the single sqrt/divide/round runs on
    identical inputs, so the doubles agree bit-for-bit.

    Shape at scale (same discipline as ngram_jaccard_pairs): terms with
    df > df_cap are dropped from vectors AND scores (boilerplate carries
    no similarity signal, and the cap bounds the inverted-index join's
    Zipf blowup); one term-keyed self-join whose matched rows ARE the
    non-zero dot-product contributions, one (doc_a, doc_b) groupBy, two
    broadcast joins against the tiny per-doc norm table."""
    wt = _tfidf_weights(docs, df_cap).localCheckpoint()
    return _tfidf_pair_join(wt, threshold)


def _tfidf_weights(docs: DataFrame, df_cap: int = 1000) -> DataFrame:
    """The (doc_id, term, w) weighted posting table — the reusable
    index artifact of tf-idf similarity (cf. _minhash_sig_for /
    dedup._postings_for): built once per corpus snapshot, consumed by
    the pair join below."""
    tf = (
        docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
    )
    return tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.expr("CAST(tf * (100000 div (df + 1)) AS BIGINT)").alias("w"),
    )


def _tfidf_pair_join(wt: DataFrame, threshold: float) -> DataFrame:
    # wt feeds norms + both join sides (cf. _gram_pair_counts) — callers
    # pass either a localCheckpoint'd build or a parquet-backed snapshot
    norms = wt.groupBy("doc_id").agg(
        F.sum((F.col("w") * F.col("w")).cast("decimal(38,0)")).alias("n2")
    )
    a, b = wt.alias("a"), wt.alias("b")
    num = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum((F.col("a.w") * F.col("b.w")).cast("decimal(38,0)")).alias("num"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    wcos = F.round(
        F.col("num").cast("double")
        / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
        4,
    )
    return (
        num.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select("doc_a", "doc_b", wcos.alias("wcos"))
        .filter(F.col("wcos") >= threshold)
    )


# Materialized tf-idf weight table, fingerprint-keyed per corpus — same
# cache discipline as dedup's _POSTINGS/_PREFIX_IDX/_MINHASH_SIG.
_TFIDF_WT: dict[tuple, str] = {}


def q_text_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realparse_spark.cache import fingerprint_key, snapshot_path

    df_cap = 1000

    def _build(tmp: str) -> None:
        _tfidf_weights(
            fan_out(load_table(spark, sf_dir, "documents")), df_cap
        ).write.mode("overwrite").parquet(tmp)

    path = snapshot_path(
        _TFIDF_WT,
        fingerprint_key(sf_dir, "documents", "tfidf", df_cap),
        "realparse_tfidf_",
        _build,
    )
    return _tfidf_pair_join(spark.read.parquet(path), threshold=0.9)


TEXT_TFIDF_COSINE_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term HAVING count(*) <= 1000
),
wt AS (
  SELECT doc_id, term, CAST(tf * (100000 // (df + 1)) AS BIGINT) AS w
  FROM tf JOIN dfreq USING (term)
),
norms AS (
  SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM wt GROUP BY doc_id
),
num AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(CAST(a.w AS HUGEINT) * b.w) AS num
  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  round(CAST(num AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4) AS wcos
FROM num
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE round(CAST(num AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4) >= 0.9
"""


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """BM25 document ranking for a fixed query, exact integer arithmetic.

    Okapi BM25 with k1=1.2, b=0.75 and the repo's integer idf surrogate
    (`100000 div (df+1)` — float ln differs across libms, SCALE.md).
    The standard per-term score

        idf * tf*(k1+1) / (tf + k1*(1 - b + b*len_d/avgdl))

    is cleared of ALL rational factors by multiplying numerator and
    denominator by 10 * avgdl * N (k1 = 12/10, b = 3/4, avgdl = T/N):

        score_term = idf_s * 22 * tf * T  div  (10*tf*T + 3*T + 9*len_d*N)

    with T = corpus token count, N = doc count — every operand BIGINT,
    so ranking hash-matches the oracle.  Magnitudes: idf_s<=1e5, tf and
    len_d are per-doc counts, so the numerator stays ~1e13-1e15 at any
    SF here — far inside int64.

    100 TB shape: one explode of the corpus filtered to the query's
    terms BEFORE the shuffle (the term filter prunes ~everything), df
    and the T/N scalars are O(terms)/O(1) broadcasts, doc lengths are a
    narrow per-doc aggregate joined on doc_id (bucketed at scale), and
    the output is a per-partition top-k heap."""
    terms = [t.lower() for t in query_terms]
    # superset prefilter BEFORE the explode: a doc with no query term
    # yields no tf row, so substring containment (cheap, pushed to the
    # scan) safely prunes the explode input to candidate docs only — at
    # 100 TB this is the difference between exploding the corpus and
    # exploding the posting lists
    candidate = None
    for t in terms:
        c = F.lower(F.col("text")).contains(t)
        candidate = c if candidate is None else (candidate | c)
    toks = (
        docs.filter(candidate)
        .select("doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term"))
        .filter(F.col("term").isin(terms))
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    lens = docs.select(
        "doc_id", token_count_ws(F.lower(F.col("text"))).cast("bigint").alias("len_d")
    )
    tot = lens.agg(
        F.sum("len_d").cast("bigint").alias("t_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "(100000 div (df + 1)) * 22 * tf * t_tokens"
                " div (10 * tf * t_tokens + 3 * t_tokens + 9 * len_d * n_docs)"
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s").cast("bigint").alias("bm25_scaled"))
        .orderBy(F.col("bm25_scaled").desc(), "doc_id")
        .limit(k)
    )


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for the fixed query {spark, merge, window} under
    integer-exact BM25; oracle recomputes the identical cleared-fraction
    formula."""
    return bm25_topk(
        fan_out(load_table(spark, sf_dir, "documents")),
        ["spark", "merge", "window"],
        k=20,
    )


TEXT_BM25_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE term IN ('spark', 'merge', 'window')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
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
)
SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25_scaled FROM (
  SELECT tf.doc_id AS doc_id,
    (100000 // (df + 1)) * 22 * tf * t_tokens
      // (10 * tf * t_tokens + 3 * t_tokens + 9 * len_d * n_docs) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN lens ON tf.doc_id = lens.doc_id
  CROSS JOIN tot
)
GROUP BY doc_id
ORDER BY bm25_scaled DESC, doc_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# vocabulary build + out-of-vocabulary rate (tokenizer-training surface)
# ---------------------------------------------------------------------------

VOCAB_SIZE = 16


def build_vocab(docs: DataFrame, size: int = VOCAB_SIZE) -> DataFrame:
    """Frequency-ranked vocabulary: the ``size`` most frequent whitespace
    tokens, ids assigned 1..size by (count desc, token asc) — the
    deterministic tie-break every tokenizer trainer needs for stable ids
    across rebuilds.

    Scale shape: the corpus-wide count is ONE map-combined groupBy; the
    global ranking then runs orderBy+limit — Spark plans TakeOrdered
    (per-partition top-``size`` heaps merged on the driver), never a full
    sort — and only the surviving ``size`` rows pass through the
    single-partition row_number window (bounded, O(vocab) not O(corpus))."""
    from pyspark.sql import Window

    agg = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topn = agg.orderBy(F.col("n").desc(), "token").limit(size)
    w = Window.orderBy(F.col("n").desc(), "token")
    return topn.select(
        F.row_number().over(w).cast("int").alias("token_id"), "token", "n"
    )


def oov_rate(docs: DataFrame, vocab: DataFrame, by: str = "source") -> DataFrame:
    """Per-``by`` out-of-vocabulary rate: the fraction of token
    OCCURRENCES not covered by the vocabulary, in integer ppm.  The
    health metric a pipeline tracks per source before tokenizing a new
    crawl — a spiking OOV rate means the vocab no longer fits the data.
    The vocab is O(size) rows -> broadcast left join; counts stay
    integers end to end (ppm by integral division, no float drift)."""
    toks = docs.select(by, F.explode(ws_tokens(F.col("text"))).alias("token"))
    hit = toks.join(
        F.broadcast(vocab.select("token", F.lit(1).alias("_inv"))),
        "token",
        "left",
    )
    return (
        hit.groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_inv").isNull(), 1)).alias("n_oov"),
        )
        .select(
            by,
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 div n_tokens").alias("oov_ppm"),
        )
        .orderBy(by)
    )


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_vocab(fan_out(load_table(spark, sf_dir, "documents")))


def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return oov_rate(docs, build_vocab(docs))


_VOCAB_CTES = rf"""toks AS (
  SELECT doc_id, source,
    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
  FROM documents
),
agg AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
vocab AS (
  SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER) AS token_id,
         token, n
  FROM agg
  ORDER BY n DESC, token
  LIMIT {VOCAB_SIZE}
)"""

VOCAB_BUILD_SQL = "WITH " + _VOCAB_CTES + "\nSELECT token_id, token, n FROM vocab\n"

TEXT_OOV_RATE_SQL = (
    "WITH "
    + _VOCAB_CTES
    + """
SELECT source,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
  CAST(count(*) FILTER (WHERE v.token IS NULL) * 1000000
       // count(*) AS BIGINT) AS oov_ppm
FROM toks t LEFT JOIN vocab v ON t.token = v.token
GROUP BY source
ORDER BY source
"""
)


# ---------------------------------------------------------------------------
# readability scoring (Flesch reading-ease with a deterministic syllable proxy)
# ---------------------------------------------------------------------------

FLESCH_EASY = 50.0  # docs at/above this score count as "easy" in the report


def readability_report(docs: DataFrame, by: str = "source") -> DataFrame:
    """Per-``by`` Flesch reading-ease report (Flesch 1948, the formula
    readability filters still ship): per doc

        flesch = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)

    with deterministic proxies both engines compute identically —
    sentences = max(1, count of ``[.!?]+`` runs), syllables = count of
    ``[aeiouyAEIOUY]+`` vowel runs (the standard heuristic; not a
    linguistics claim).  Emits per group: doc count, mean/min/max score,
    and the count of "easy" docs (score >= 50) — the distribution a
    curation pipeline reads before setting a readability gate.

    Determinism: words/sentences/syllables are integer regexp counts;
    the per-doc score is one fixed-shape IEEE expression rounded to 4;
    the group mean accumulates round-4 scores as exact DECIMAL(18,4)
    and divides once (no float summation order).

    Scale: pure column expressions at scan speed (zero Python, zero
    joins), then ONE map-side-combined groupBy to O(sources) rows."""
    t = F.col("text")
    w = token_count_ws(t).cast("double")
    s = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), 0)), F.lit(1)
    ).cast("double")
    y = F.size(F.regexp_extract_all(t, F.lit(r"[aeiouyAEIOUY]+"), 0)).cast("double")
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (w / s)
        - F.lit(84.6) * (y / F.greatest(w, F.lit(1.0))),
        4,
    )
    per_doc = docs.select(by, score.cast("decimal(18,4)").alias("flesch"))
    n = F.count(F.lit(1))
    return (
        per_doc.groupBy(by)
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.round(F.sum("flesch").cast("double") / n, 4).alias("mean_flesch"),
            F.min("flesch").cast("double").alias("min_flesch"),
            F.max("flesch").cast("double").alias("max_flesch"),
            F.sum((F.col("flesch") >= FLESCH_EASY).cast("int"))
            .cast("bigint")
            .alias("n_easy"),
        )
        .orderBy(by)
    )


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readability_report(fan_out(load_table(spark, sf_dir, "documents")))


TEXT_READABILITY_SQL = rf"""
WITH per_doc AS (
  SELECT source,
    CAST(round(
      206.835
      - 1.015 * (CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE)
                 / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
      - 84.6 * (CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS DOUBLE)
                / greatest(CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE), 1.0)),
      4) AS DECIMAL(18,4)) AS flesch
  FROM documents
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  round(CAST(sum(flesch) AS DOUBLE) / count(*), 4) AS mean_flesch,
  CAST(min(flesch) AS DOUBLE) AS min_flesch,
  CAST(max(flesch) AS DOUBLE) AS max_flesch,
  CAST(count(*) FILTER (WHERE flesch >= {FLESCH_EASY}) AS BIGINT) AS n_easy
FROM per_doc
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# tokenizer fertility (chars / words per token, the tokenizer-eval metric)
# ---------------------------------------------------------------------------


def tokenizer_fertility(docs: DataFrame, by: str = "source") -> DataFrame:
    """Per-``by`` tokenizer fertility audit: characters per token and
    tokens per word under the BPE-ish pre-tokenizer vs whitespace words
    — the standard report a tokenizer change ships with (fertility
    regressions silently inflate training cost per byte; multilingual
    pipelines read this per language/source before picking vocab
    budgets, cf. the mT5-style fertility tables).

    All-integer outputs (x1000 fixed-point by integral division — the
    `oov_ppm` discipline): chars_per_bpe_x1000, chars_per_word_x1000,
    bpe_per_word_x1000, over corpus totals per group.

    Scale: two regexp counts per row at scan speed, ONE map-side
    combined groupBy to O(groups) rows — zero joins, zero Python."""
    t = F.col("text")
    per = docs.select(
        by,
        F.length(t).cast("bigint").alias("n_chars"),
        token_count_ws(t).cast("bigint").alias("n_words"),
        token_count_bpe(t).cast("bigint").alias("n_bpe"),
    )
    return (
        per.groupBy(by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe"),
        )
        .select(
            by,
            "n_docs",
            "n_chars",
            "n_words",
            "n_bpe",
            F.expr("n_chars * 1000 div greatest(n_bpe, 1)").alias(
                "chars_per_bpe_x1000"
            ),
            F.expr("n_chars * 1000 div greatest(n_words, 1)").alias(
                "chars_per_word_x1000"
            ),
            F.expr("n_bpe * 1000 div greatest(n_words, 1)").alias(
                "bpe_per_word_x1000"
            ),
        )
        .orderBy(by)
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenizer_fertility(fan_out(load_table(spark, sf_dir, "documents")))


TOKENIZER_FERTILITY_SQL = r"""
WITH per AS (
  SELECT source,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe
  FROM documents
),
agg AS (
  SELECT source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_chars) AS BIGINT) AS n_chars,
    CAST(sum(n_words) AS BIGINT) AS n_words,
    CAST(sum(n_bpe) AS BIGINT) AS n_bpe
  FROM per GROUP BY source
)
SELECT source, n_docs, n_chars, n_words, n_bpe,
  n_chars * 1000 // greatest(n_bpe, 1) AS chars_per_bpe_x1000,
  n_chars * 1000 // greatest(n_words, 1) AS chars_per_word_x1000,
  n_bpe * 1000 // greatest(n_words, 1) AS bpe_per_word_x1000
FROM agg
ORDER BY source
"""


# ---------------------------------------------------------------------------
# word co-occurrence PMI (distributional statistics for embeddings/features)
# ---------------------------------------------------------------------------

_PMI_TOP = 20


def word_cooccurrence_pmi(
    docs: DataFrame, top: int = _PMI_TOP, df_cap: int = 1000
) -> DataFrame:
    """Document-level word co-occurrence with an integer PMI surrogate —
    the corpus statistic word-embedding / feature pipelines compute
    before any training (Church & Hanks 1990 pointwise mutual
    information):  pmi_ppm = n_ab * N * 1e6 div (n_a * n_b), exactly
    1e6 * P(a,b)/(P(a)P(b)) under integer division (log-free — float ln
    differs across libms, same discipline as the tf-idf integer idf).

    100 TB shape: distinct-words-per-doc collapse first (array_distinct
    in-row, one explode), df-cap drops stopword-grade hot tokens BEFORE
    the per-doc pair self-join (the quadratic term is per-doc distinct
    words, bounded by the cap x doc length, never corpus-sized), and the
    ranking is TakeOrdered."""
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(ws_tokens(F.col("text")))).alias("w")
    )
    dfreq = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_w"))
        .filter(F.col("n_w") <= df_cap)
    )
    capped = words.join(dfreq, "w")
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    a = capped.select(
        "doc_id", F.col("w").alias("word_a"), F.col("n_w").alias("n_a")
    )
    b = capped.select(
        "doc_id", F.col("w").alias("word_b"), F.col("n_w").alias("n_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("word_a") < F.col("word_b"))
        .groupBy("word_a", "word_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    scored = pairs.crossJoin(F.broadcast(n_docs)).select(
        "word_a",
        "word_b",
        "n_a",
        "n_b",
        "n_ab",
        F.expr("n_ab * n_docs * 1000000 div (n_a * n_b)").alias("pmi_ppm"),
    )
    return scored.orderBy(
        F.col("pmi_ppm").desc(), F.col("n_ab").desc(), "word_a", "word_b"
    ).limit(top)


def q_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return word_cooccurrence_pmi(fan_out(load_table(spark, sf_dir, "documents")))


WORD_PMI_SQL = rf"""
WITH words AS (
  SELECT doc_id,
    unnest(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS w
  FROM documents
),
dfreq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM words GROUP BY w
  HAVING count(*) <= 1000
),
capped AS (SELECT words.doc_id, words.w, dfreq.n_w FROM words JOIN dfreq USING (w)),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
pairs AS (
  SELECT a.w AS word_a, b.w AS word_b, a.n_w AS n_a, b.n_w AS n_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2, 3, 4
)
SELECT word_a, word_b, n_a, n_b, n_ab,
  CAST(n_ab * n_docs * 1000000 // (n_a * n_b) AS BIGINT) AS pmi_ppm
FROM pairs, n
ORDER BY pmi_ppm DESC, n_ab DESC, word_a, word_b
LIMIT {_PMI_TOP}
"""


# ---------------------------------------------------------------------------
# BPE pair counting (the inner loop of tokenizer training)
# ---------------------------------------------------------------------------

_BPE_TOP = 20


def bpe_pair_counts(docs: DataFrame, top: int = _BPE_TOP) -> DataFrame:
    """One iteration of BPE training (Sennrich et al. 2016): count every
    adjacent symbol pair across the corpus, weighted by word frequency —
    the pair with the highest count is the next merge.  At character
    stage the pair is a 2-char substring of each distinct word.

    100 TB shape: the corpus collapses to the DISTINCT-WORD table first
    (one map-combined groupBy — the Zipf head makes this orders of
    magnitude smaller than the token stream), pairs explode off words
    (bounded by word length), and the ranking is TakeOrdered, never a
    full sort.  Full BPE iterates this with a merge table; the per-round
    count is the distributed part — the argmax/merge bookkeeping is
    O(vocab) driver state in every production trainer."""
    words = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(top)
    )


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_counts(fan_out(load_table(spark, sf_dir, "documents")))


BPE_PAIR_COUNTS_SQL = rf"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS word
    FROM documents
  ) GROUP BY word HAVING length(word) >= 2
),
pairs AS (
  SELECT wc, word[i:i+1] AS pair
  FROM words, unnest(range(1, length(word))) AS u(i)
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_TOP}
"""


# ---------------------------------------------------------------------------
# decontamination report: the REMOVE step on top of contamination detection
# ---------------------------------------------------------------------------


def decontaminate_report(
    train_docs: DataFrame, contaminated_ids: DataFrame, by: str = "source"
) -> DataFrame:
    """Per-source keep/drop accounting for a benchmark-decontamination
    pass: how many training docs each source loses when every doc that
    shares >= min_shared winnowing fingerprints with the benchmark set is
    dropped.  The flag join is a LEFT join against the (small relative to
    the corpus) contaminated-id set — at 100 TB that side is still tiny
    (benchmark overlaps are rare by construction), so AQE broadcasts it;
    the aggregate is map-side combined."""
    flagged = train_docs.join(
        contaminated_ids.withColumn("_contaminated", F.lit(True)),
        "doc_id",
        "left",
    )
    return (
        flagged.groupBy(by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.sum(
                F.when(F.col("_contaminated"), 1).otherwise(0)
            ).cast("bigint").alias("n_dropped"),
        )
        .select(
            by,
            "n_train",
            "n_dropped",
            (F.col("n_train") - F.col("n_dropped")).alias("n_kept"),
        )
        .orderBy(by)
    )


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end decontamination over the fixture's every-20th-doc
    benchmark split: detection (winnow -> shared-fp pairs, same operator
    the `text_contamination` query verifies) feeding the remove/report
    step."""
    fps = spark.read.parquet(_winnow_fp_for(spark, sf_dir))
    pairs = contamination_pairs(fps, F.col("doc_id") % 20 == 0)
    contaminated = pairs.select(F.col("train_doc").alias("doc_id")).distinct()
    train = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 != 0)
        .select("doc_id", "source")
    )
    return decontaminate_report(train, contaminated)


# extends the contamination chain: pair list -> distinct contaminated ids
# -> per-source keep/drop rollup over the train split
DOC_DECONTAMINATE_SQL = (
    _sql_splice(
        TEXT_CONTAMINATION_SQL,
        "SELECT b.doc_id AS bench_doc",
        ", pairs AS (\nSELECT b.doc_id AS bench_doc",
    )
    + """),
contaminated AS (SELECT DISTINCT train_doc AS doc_id FROM pairs)
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_train,
  CAST(count(c.doc_id) AS BIGINT) AS n_dropped,
  CAST(count(*) - count(c.doc_id) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id % 20 <> 0
GROUP BY d.source ORDER BY d.source
"""
)


QUERIES = {
    "text_bm25": q_text_bm25,
    "text_tfidf_cosine": q_text_tfidf_cosine,
    "text_repetition": q_text_repetition,
    "text_unigram_logprob": q_text_unigram_logprob,
    "text_bigram_logprob": q_text_bigram_logprob,
    "text_token_entropy": q_text_token_entropy,
    "text_boilerplate": q_text_boilerplate,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_winnow": q_text_winnow,
    "text_contamination": q_text_contamination,
    "source_overlap_matrix": q_source_overlap_matrix,
    "doc_language_confusion": q_doc_language_confusion,
    "doc_decontaminate": q_doc_decontaminate,
    "bpe_pair_counts": q_bpe_pair_counts,
    "word_pmi": q_word_pmi,
    "vocab_build": q_vocab_build,
    "text_oov_rate": q_text_oov_rate,
    "text_readability": q_text_readability,
    "nb_langid_confusion": q_nb_langid_confusion,
    "tokenizer_fertility": q_tokenizer_fertility,
}

ORACLES = {
    "text_bm25": TEXT_BM25_SQL,
    "text_tfidf_cosine": TEXT_TFIDF_COSINE_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "text_unigram_logprob": TEXT_UNIGRAM_LOGPROB_SQL,
    "text_bigram_logprob": TEXT_BIGRAM_LOGPROB_SQL,
    "text_token_entropy": TEXT_TOKEN_ENTROPY_SQL,
    "text_boilerplate": TEXT_BOILERPLATE_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_langid": _langid_sql(),
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_winnow": TEXT_WINNOW_SQL,
    "text_contamination": TEXT_CONTAMINATION_SQL,
    "source_overlap_matrix": SOURCE_OVERLAP_MATRIX_SQL,
    "doc_language_confusion": _language_confusion_sql(),
    "doc_decontaminate": DOC_DECONTAMINATE_SQL,
    "bpe_pair_counts": BPE_PAIR_COUNTS_SQL,
    "word_pmi": WORD_PMI_SQL,
    "vocab_build": VOCAB_BUILD_SQL,
    "text_oov_rate": TEXT_OOV_RATE_SQL,
    "text_readability": TEXT_READABILITY_SQL,
    "nb_langid_confusion": NB_LANGID_CONFUSION_SQL,
    "tokenizer_fertility": TOKENIZER_FERTILITY_SQL,
}
