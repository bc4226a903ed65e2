"""Scale utilities: bucketing for co-located joins, salting for skew.

These are the knobs SURVEY.md §4.3 and the 100 TB design points call for
when AQE alone isn't enough:

- **bucketing**: pre-shuffle the big fact tables once at write time so
  every subsequent equi-join/groupBy on the bucket key is exchange-free.
  The access/file star-schema tables join on access_id constantly — at
  100 TB that's the single biggest shuffle eliminated.
- **salting**: decompose a skewed aggregation into partial (key, salt)
  then final (key) phases; the hot key's rows spread over `salt_n`
  reducers instead of one straggler.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DECOMPOSABLE = {"sum", "count", "max", "min"}


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed parquet table.
    Joins/groupBys on `bucket_cols` between tables bucketed the same way
    run with NO Exchange (asserted in tests/test_scale.py)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def salted_groupby(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[tuple[str, str, str]],
    salt_n: int = 16,
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Two-phase skew-resistant aggregation.

    `aggs` is (func, col, alias) with func in {sum,count,max,min} — the
    decomposable set (partial and final combine with the same function,
    except count whose final combine is sum).  `salt_source` defaults to a
    hash of the whole row via xxhash64 of all non-key columns' first —
    pass an explicit high-cardinality column when available.
    """
    bad = [f for f, _, _ in aggs if f not in DECOMPOSABLE]
    if bad:
        raise ValueError(f"non-decomposable aggs for salting: {bad}")

    if salt_source is None:
        non_key = [c for c in df.columns if c not in keys]
        salt_source = F.xxhash64(*non_key[:3]) if non_key else F.spark_partition_id()
    elif isinstance(salt_source, str):
        salt_source = F.col(salt_source)
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_source), F.lit(salt_n)))

    partial = salted.groupBy(*keys, "_salt").agg(
        *[getattr(F, f)(c).alias(a) for f, c, a in aggs]
    )
    final_aggs = []
    for f, _, a in aggs:
        combine = "sum" if f in ("count", "sum") else f
        final_aggs.append(getattr(F, combine)(a).alias(a))
    out = partial.groupBy(*keys).agg(*final_aggs)
    # counts come back as sum(bigint) -> bigint already; keep schema stable
    return out


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_n: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join by salt-replication — the technique for a
    hot join key that AQE's skew-split cannot fix (AQE splits a skewed
    PARTITION, but a single key's rows still hash to one partition when
    the key itself owns the skew and the other side must be replicated to
    meet it).

    The fact side gets a uniform salt in [0, salt_n) from a full-row
    hash; the dim side is replicated salt_n× (one copy per salt value);
    the join runs on (key, salt), so the hot key's probe work spreads
    over salt_n tasks.  Cost: salt_n× the dim shuffle volume — use when
    the dim is too big to broadcast but cheap to replicate (the classic
    middle ground at 100 TB).  Result is EXACTLY the plain join: each
    fact row carries one salt and meets exactly one copy of its dim row.

    Fact-preserving modes only (inner/left/left_semi/left_anti): an
    unmatched DIM row exists salt_n times after replication, so
    right/full outer would emit salt_n null-extended duplicates —
    rejected explicitly rather than silently wrong."""
    fact_preserving = {"inner", "left", "leftouter", "left_outer",
                       "semi", "leftsemi", "left_semi",
                       "anti", "leftanti", "left_anti"}
    if how.lower() not in fact_preserving:
        raise ValueError(
            f"salted_join: how={how!r} is not fact-preserving; the "
            f"replicated dim side would duplicate unmatched rows "
            f"salt_n x (supported: {sorted(fact_preserving)})"
        )
    f = fact.withColumn(
        "_salt_l", F.pmod(F.xxhash64(*fact.columns), F.lit(salt_n))
    )
    d = dim.withColumn(
        "_salt_r",
        F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)).cast("array<bigint>")),
    )
    out = f.join(
        d, (f[fact_key] == d[dim_key]) & (f["_salt_l"] == d["_salt_r"]), how
    )
    return out.drop("_salt_l", "_salt_r")


def colocated_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planner emits
    SortMergeJoin with zero Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), key)


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible form of the skew path: the two-phase salted
    aggregation must produce EXACTLY the plain groupBy's answer (same
    decimal sums, same extrema) — the oracle is the unsalted SQL.  The
    salt spreads each event_type's rows over 16 reducers in phase 1, so
    a key owning half the corpus becomes 16 partials instead of one
    straggler task; phase 2 combines |keys|·16 tiny rows."""
    from realparse_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("v"),
        "event_id",
    )
    out = salted_groupby(
        e,
        ["event_type"],
        [("count", "v", "n_events"), ("sum", "v", "sum_v"),
         ("max", "v", "max_v"), ("min", "v", "min_v")],
        salt_n=16,
        salt_source="event_id",
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_v").cast("double").alias("sum_value"),
        F.col("max_v").cast("double").alias("max_value"),
        F.col("min_v").cast("double").alias("min_value"),
    ).orderBy("event_type")


SALTED_AGG_SQL = """
SELECT event_type,
  count(CAST(value AS DECIMAL(18,4))) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
  CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value,
  CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible form of the salt-replicated join: revenue per brand
    through `salted_join` must EXACTLY equal the plain-join answer — the
    oracle is the unsalted SQL.  The plan shape is the point: the fact's
    hot keys spread over 8 salt buckets while the part dim is replicated
    8×, bounding any task to 1/8 of a hot key's rows."""
    from realparse_spark.sources.tables import load_table

    from realparse_spark.operators.tpch_extra import _rev_dec
    from realparse_spark.sources.tables import load_table

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(lineitem, part, "l_partkey", "p_partkey", salt_n=8)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_rev_dec()).cast("double").alias("revenue"),
        )
        .orderBy("p_brand")
    )


SALTED_JOIN_SQL = """
SELECT p_brand,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# Bloom-filter runtime join pruning
# ---------------------------------------------------------------------------

def bloom_build(
    keys: DataFrame, key_col: str, bits_per_key: int = 16, k: int = 4
) -> tuple[list[int], int]:
    """Aggregate the build side's join keys into an m-bit Bloom bitmap,
    returned as (dense word list, m_bits).

    This is Spark's runtime row-level filtering
    (spark.sql.optimizer.runtime.bloomFilter.*) made explicit and
    engine-independent: k positions per key from seeded xxhash64, one
    map-side-combined groupBy(word) · bit_or(mask) aggregate, then a
    BOUNDED collect of at most m/64 longs (≤2 MiB at the cap).  m auto-sizes
    to the OBSERVED key count (pow2 ≥ bits_per_key·n, capped 2^24), so
    FPR stays ~0.2% at the default 16 bits/key, k=4."""
    n = keys.select(key_col).na.drop().distinct().count()
    m_bits = 1 << 10
    while m_bits < bits_per_key * max(n, 1) and m_bits < (1 << 24):
        m_bits <<= 1
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
                for i in range(k)
            ]
        )
    ).alias("pos")
    words = (
        keys.na.drop(subset=[key_col])
        .select(pos)
        .select(
            F.shiftright("pos", 6).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    dense = [0] * (m_bits // 64)
    for r in words:
        dense[r["word"]] = r["bits"]
    return dense, m_bits


def bloom_prune(
    fact: DataFrame, key_col: str, dense: list[int], m_bits: int, k: int = 4
) -> DataFrame:
    """Filter `fact` to rows whose key MIGHT be in the bitmap: k word
    lookups + bit tests per row, scan-local (the 8 KiB-per-1M-keys bitmap
    rides a 1-row broadcast), zero shuffle.  No false negatives; false
    positives are removed by the exact join that follows."""
    spark = fact.sparkSession
    bloom = spark.createDataFrame([(dense,)], "_bloom_bits: array<bigint>")
    probe = fact.crossJoin(F.broadcast(bloom))
    cond = F.lit(True)
    for i in range(k):
        p = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
        word = F.element_at("_bloom_bits", (F.shiftright(p, 6) + 1).cast("int"))
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64({key_col}, {i}), {m_bits}) % 64 AS INT))"
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return probe.filter(cond).drop("_bloom_bits")


def bloom_prune_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    bits_per_key: int = 16,
    k: int = 4,
) -> DataFrame:
    """Exact inner join with the fact side Bloom-pruned BEFORE the join
    shuffle — the runtime-filter pattern for a selective dim that is too
    big to broadcast as exact keys but whose key set compresses to a
    bitmap.  At 100 TB the win is shuffle volume: only fact rows whose
    key might match ship to the join; with a 1%-selective dim that is a
    ~99% reduction of the dominant exchange.  The result is EXACTLY the
    plain join (the bitmap never drops a real match; the join removes
    bloom false positives), which is the oracle."""
    dense, m_bits = bloom_build(dim.select(dim_key), dim_key, bits_per_key, k)
    pruned = bloom_prune(fact, fact_key, dense, m_bits, k)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key])


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible form: monthly line counts + revenue for 1995's
    URGENT orders, with lineitem Bloom-pruned on l_orderkey before the
    join.  The oracle is the plain join SQL — parity IS the no-false-
    negative proof."""
    from realparse_spark.operators.tpch_extra import _rev_dec
    from realparse_spark.sources.tables import load_table

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.year("o_orderdate") == 1995)
    )
    joined = bloom_prune_join(lineitem, orders, "l_orderkey", "o_orderkey")
    return (
        joined.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_rev_dec()).cast("double").alias("revenue"),
        )
        .orderBy("order_month")
    )


BLOOM_PRUNE_JOIN_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995
GROUP BY 1
ORDER BY 1
"""


def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 10, partitions: int = 32
) -> DataFrame:
    """Heavy-key diagnostic for a candidate shuffle key: the top keys by
    row count, each with its corpus share in integer ppm and a
    `needs_salt` verdict (share above one reducer's fair slice at
    `partitions` reducers — exactly the condition under which a
    shuffle on this key produces a straggler and `salted_groupby` /
    `salted_join` should be applied, or AQE skew-join left to split it).

    This is the pre-flight job a 100 TB pipeline runs BEFORE picking a
    partitioning: one map-side-combined shuffle on the key (partial
    counts), a 1-row broadcast total derived from the partials (no
    second scan of the fact), and a per-partition top-N heap
    (TakeOrderedAndProject) — output is O(top_n), never the key list.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").cast("bigint").alias("_total"))
    fair_ppm = 1_000_000 // partitions
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.lit(key_col).alias("key_col"),
            F.col(key_col).cast("string").alias("key"),
            "n_rows",
            F.expr("n_rows * 1000000 div _total").alias("share_ppm"),
        )
        .withColumn("needs_salt", F.col("share_ppm") > F.lit(fair_ppm))
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(top_n)
    )


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key pre-flight over the fact table: profile a
    low-cardinality key (l_returnflag — every key owns ~1/3 of the
    corpus, so ALL of them exceed a 32-reducer fair share and flag
    needs_salt) and a high-cardinality key (l_suppkey — uniform, none
    flag) in one pass each.  Exact integer shares; oracle is the
    literal SQL."""
    from realparse_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    prof = key_skew_profile(li, "l_returnflag", top_n=5).unionAll(
        key_skew_profile(li, "l_suppkey", top_n=5)
    )
    return prof


SKEW_PROFILE_SQL = """
WITH rf AS (
  SELECT 'l_returnflag' AS key_col, CAST(l_returnflag AS VARCHAR) AS key,
    CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_returnflag
),
rf_top AS (
  SELECT key_col, key, n_rows,
    CAST(n_rows * 1000000 // (SELECT sum(n_rows) FROM rf) AS BIGINT) AS share_ppm
  FROM rf ORDER BY n_rows DESC, key LIMIT 5
),
sk AS (
  SELECT 'l_suppkey' AS key_col, CAST(l_suppkey AS VARCHAR) AS key,
    CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_suppkey
),
sk_top AS (
  SELECT key_col, key, n_rows,
    CAST(n_rows * 1000000 // (SELECT sum(n_rows) FROM sk) AS BIGINT) AS share_ppm
  FROM sk ORDER BY n_rows DESC, key LIMIT 5
)
SELECT key_col, key, n_rows, share_ppm, share_ppm > 31250 AS needs_salt FROM rf_top
UNION ALL
SELECT key_col, key, n_rows, share_ppm, share_ppm > 31250 AS needs_salt FROM sk_top
"""


def join_size_profile(
    left: DataFrame, lkey: str, right: DataFrame, rkey: str, label: str
) -> DataFrame:
    """Exact pre-flight cardinality of a proposed equi-join, computed
    WITHOUT executing it: per-key counts on each side (column-pruned,
    map-side-combined shuffles of the key projection only), joined as
    O(keys) count tables, then sum/max of per-key products.

    Returns one row: (join_label, left_rows, n_keys_left, right_rows,
    n_keys_right, matched_keys, out_rows, max_key_out).  `out_rows` is
    the exact inner-join output size; `max_key_out` is the largest
    single key's contribution — the straggler bound that decides
    between a plain shuffle join, salting, or AQE skew splitting.  At
    100 TB this scan reads two narrow columns instead of materializing
    a possibly-exploding join."""
    lc = left.groupBy(F.col(lkey).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_l")
    )
    rc = right.groupBy(F.col(rkey).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    l_tot = lc.agg(
        F.sum("n_l").cast("bigint").alias("left_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys_left"),
    )
    r_tot = rc.agg(
        F.sum("n_r").cast("bigint").alias("right_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys_right"),
    )
    matched = (
        lc.join(rc, "key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("matched_keys"),
            F.sum(F.expr("n_l * n_r")).cast("bigint").alias("out_rows"),
            F.max(F.expr("n_l * n_r")).cast("bigint").alias("max_key_out"),
        )
    )
    return (
        matched.crossJoin(F.broadcast(l_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            F.lit(label).alias("join_label"),
            "left_rows",
            "n_keys_left",
            "right_rows",
            "n_keys_right",
            "matched_keys",
            "out_rows",
            "max_key_out",
        )
    )


def q_join_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight the two flagship fact joins (lineitem-orders on the
    order key, lineitem-part on the part key): exact output
    cardinality and worst single-key contribution from O(keys) count
    tables.  Oracle is the literal SQL."""
    from realparse_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    return join_size_profile(
        li, "l_orderkey", orders, "o_orderkey", "lineitem-orders"
    ).unionAll(
        join_size_profile(li, "l_partkey", part, "p_partkey", "lineitem-part")
    )


JOIN_SIZE_PROFILE_SQL = """
WITH lo AS (
  SELECT 'lineitem-orders' AS join_label,
    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS left_rows,
    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS n_keys_left,
    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS right_rows,
    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders) AS n_keys_right,
    CAST(count(*) AS BIGINT) AS matched_keys,
    CAST(sum(n_l * n_r) AS BIGINT) AS out_rows,
    CAST(max(n_l * n_r) AS BIGINT) AS max_key_out
  FROM (SELECT l_orderkey AS key, count(*) AS n_l FROM lineitem GROUP BY 1) lc
  JOIN (SELECT o_orderkey AS key, count(*) AS n_r FROM orders GROUP BY 1) rc
    USING (key)
),
lp AS (
  SELECT 'lineitem-part' AS join_label,
    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS left_rows,
    (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem) AS n_keys_left,
    (SELECT CAST(count(*) AS BIGINT) FROM part) AS right_rows,
    (SELECT CAST(count(DISTINCT p_partkey) AS BIGINT) FROM part) AS n_keys_right,
    CAST(count(*) AS BIGINT) AS matched_keys,
    CAST(sum(n_l * n_r) AS BIGINT) AS out_rows,
    CAST(max(n_l * n_r) AS BIGINT) AS max_key_out
  FROM (SELECT l_partkey AS key, count(*) AS n_l FROM lineitem GROUP BY 1) lc
  JOIN (SELECT p_partkey AS key, count(*) AS n_r FROM part GROUP BY 1) rc
    USING (key)
)
SELECT * FROM lo UNION ALL SELECT * FROM lp
"""


QUERIES = {
    "salted_agg": q_salted_agg,
    "salted_join": q_salted_join,
    "skew_profile": q_skew_profile,
    "join_size_profile": q_join_size_profile,
    "bloom_prune_join": q_bloom_prune_join,
}
ORACLES = {
    "salted_agg": SALTED_AGG_SQL,
    "salted_join": SALTED_JOIN_SQL,
    "skew_profile": SKEW_PROFILE_SQL,
    "join_size_profile": JOIN_SIZE_PROFILE_SQL,
    "bloom_prune_join": BLOOM_PRUNE_JOIN_SQL,
}
