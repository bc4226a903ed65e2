"""Advanced relational operators beyond the reference's surface — the
"free in Spark" extensions SURVEY.md §2.5-2.6 calls out (rollup, approx
distinct, sliding windows, ranking) plus the classic time-series joins a
log-analytics engine needs (as-of join, range-band join).

Each is a driver query with an exact DuckDB oracle except approx_distinct
(HLL sketches are engine-specific -> rows-only check + bounds test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realparse_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# rollup aggregation (grouping sets)
# ---------------------------------------------------------------------------

def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    joined = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("c_custkey").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
    )


ROLLUP_AGG_SQL = """
SELECT r_name, n_name,
       count(c_custkey) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ---------------------------------------------------------------------------
# sliding window (1h window, 30min slide)
# ---------------------------------------------------------------------------

def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    win = events.groupBy(
        F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
    ).agg(F.count("event_id").alias("n_events"))
    return win.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
    )


SLIDING_WINDOW_SQL = """
WITH contrib AS (
  SELECT event_type,
         to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)
                      - (CAST(floor(epoch(ts)) AS BIGINT) % 1800) - off) AS window_start
  FROM events, unnest([0, 1800]) AS t(off)
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events
FROM contrib
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# as-of join: for each purchase, the user's most recent click at/before it
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark has no native ASOF JOIN; the scalable pattern is the tagged
    union + running last_value window: one shuffle on (user_id), linear
    scan per partition — beats a range self-join at any scale."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts"), F.lit(0).alias("src"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.lit(1).alias("src"), "event_id"
    )
    tagged = clicks.unionByName(purchases)
    # clicks sort before purchases at equal ts (src asc) => 'at or before'
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_last = tagged.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("src") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return (
        with_last.filter(F.col("src") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
            F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
            F.round(
                F.col("ts").cast("double") - F.col("last_click_ts").cast("double"), 6
            ).alias("gap_sec"),
        )
    )


ASOF_JOIN_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       round(epoch(p.ts) - epoch(c.ts), 6) AS gap_sec
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# range-band join: quantity bands dim, non-equi BETWEEN join
# ---------------------------------------------------------------------------

def q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("low", 0.0, 15.0), ("mid", 15.0, 35.0), ("high", 35.0, 1e9)],
        "band string, lo double, hi double",
    )
    joined = lineitem.join(
        F.broadcast(bands),
        (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count("l_orderkey").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


RANGE_BAND_JOIN_SQL = """
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 15.0), ('mid', 15.0, 35.0), ('high', 35.0, 1e9)
)
SELECT band,
       count(l_orderkey) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
GROUP BY band
"""


# ---------------------------------------------------------------------------
# big-big interval overlap join (bucket-blocked)
# ---------------------------------------------------------------------------

def interval_overlap_join(
    a: DataFrame, b: DataFrame, bucket_us: int = 3_600_000_000
) -> DataFrame:
    """Overlap-join two interval tables when BOTH sides are too big to
    broadcast — the case `range_band_join`'s broadcast pattern cannot
    serve.  A naive `a JOIN b ON a.start <= b.end AND b.start <= a.end`
    plans a BroadcastNestedLoopJoin (or worse, a cartesian): O(|a|·|b|)
    comparisons.  The scale pattern is bucket blocking: explode each
    interval to the fixed time buckets it covers (integer DIV — exact,
    no float boundary drift), equi-join on the bucket (a plain shuffled
    hash join), re-check the true overlap predicate, and `distinct` away
    the one-duplicate-per-shared-bucket.  Cost: O(spanned buckets) rows
    per interval and only same-bucket pairs compared — with bucket_us
    chosen near the median interval length, fan-out is a small constant.

    `a` must carry a_start_us/a_end_us (epoch micros, bigint), `b`
    b_start_us/b_end_us; all other columns ride along and define pair
    identity for the distinct."""
    abkt = a.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"a_start_us DIV {bucket_us}"),
                F.expr(f"a_end_us DIV {bucket_us}"),
            )
        ),
    )
    bbkt = b.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"b_start_us DIV {bucket_us}"),
                F.expr(f"b_end_us DIV {bucket_us}"),
            )
        ),
    )
    return (
        abkt.join(bbkt, "_bkt")
        .filter(
            (F.col("a_start_us") <= F.col("b_end_us"))
            & (F.col("b_start_us") <= F.col("a_end_us"))
        )
        .drop("_bkt")
        .distinct()
    )


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user-day activity spans overlap an error burst, and for how
    long: activity intervals (per user per day, min..max event time) ×
    error-burst intervals (runs of 'error' events within 10 minutes,
    ≥3 errors, sessionized per day so burst detection parallelizes) via
    the bucket-blocked overlap join.  Overlap math stays in exact epoch
    micros; the oracle is the literal inequality join."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id", "event_type", F.to_date("ts").alias("day"), F.unix_micros("ts").alias("us")
    )
    activity = ev.groupBy("user_id", "day").agg(
        F.min("us").alias("a_start_us"), F.max("us").alias("a_end_us")
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("day").alias("eday"), "us"
    )
    w = Window.partitionBy("eday").orderBy("us")
    flagged = err.withColumn(
        "new_burst",
        F.when(F.col("us") - F.lag("us").over(w) > 600_000_000, 1).otherwise(0),
    )
    bursts = (
        flagged.withColumn(
            "burst",
            F.sum("new_burst").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("eday", "burst")
        .agg(
            F.min("us").alias("b_start_us"),
            F.max("us").alias("b_end_us"),
            F.count(F.lit(1)).alias("n_err"),
        )
        .filter(F.col("n_err") >= 3)
        .select("eday", "burst", "b_start_us", "b_end_us")
    )
    j = interval_overlap_join(activity, bursts)
    return (
        j.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_bursts"),
            F.sum(
                F.least("a_end_us", "b_end_us") - F.greatest("a_start_us", "b_start_us")
            ).alias("overlap_us"),
        )
        .orderBy("user_id", "day")
    )


INTERVAL_OVERLAP_JOIN_SQL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS day, epoch_us(ts) AS us FROM events
),
activity AS (
  SELECT user_id, day, min(us) AS a_start_us, max(us) AS a_end_us
  FROM ev GROUP BY 1, 2
),
err AS (SELECT day AS eday, us FROM ev WHERE event_type = 'error'),
flagged AS (
  SELECT eday, us,
    CASE WHEN us - lag(us) OVER (PARTITION BY eday ORDER BY us) > 600000000
         THEN 1 ELSE 0 END AS new_burst
  FROM err
),
runs AS (
  SELECT eday, us, sum(new_burst) OVER (
    PARTITION BY eday ORDER BY us
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst
  FROM flagged
),
bursts AS (
  SELECT eday, burst, min(us) AS b_start_us, max(us) AS b_end_us
  FROM runs GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT a.user_id, a.day,
  CAST(count(*) AS BIGINT) AS n_bursts,
  CAST(sum(least(a_end_us, b_end_us) - greatest(a_start_us, b_start_us)) AS BIGINT) AS overlap_us
FROM activity a
JOIN bursts b ON a.a_start_us <= b.b_end_us AND b.b_start_us <= a.a_end_us
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# ranking window functions
# ---------------------------------------------------------------------------

def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = orders.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return ranked.filter(F.col("rn") <= 3)


WINDOW_RANK_SQL = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER w AS INTEGER) AS rn,
         CAST(rank() OVER w AS INTEGER) AS rnk,
         CAST(dense_rank() OVER w AS INTEGER) AS drnk,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
)
SELECT * FROM ranked WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# approximate distinct (HLL) — rows-only; bounds asserted in tests
# ---------------------------------------------------------------------------

def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count("event_id").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# approximate quantiles (KLL-style sketch) — rows-only; bounds in tests
# ---------------------------------------------------------------------------

def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch per group (approx_percentile): partial
    sketches map-side, one exchange to merge — the only percentile that
    scales to 100 TB (exact percentiles need a sort or full value
    collection per group; see percentile_metrics for the exact twin).
    Sketch internals are engine-specific -> rows-only driver check;
    accuracy vs the exact percentile is gated in tests."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.approx_percentile("value", F.lit([0.5, 0.95]), F.lit(10000))
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(pct, 1), 4).alias("p50_approx"),
        F.round(F.element_at(pct, 2), 4).alias("p95_approx"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# distribution window functions (percent_rank / cume_dist / first / last /
# nth_value) — the remaining §2.6 window surface beyond ranking and lag/lead
# ---------------------------------------------------------------------------

def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-price distribution positions plus full-frame
    value picks.  percent_rank/cume_dist derive from exact integer ranks
    ((rank-1)/(n-1), rank/n) so the doubles are engine-identical; ties
    break on o_orderkey.  The deterministic 5%-of-customers slice keeps
    the output bounded without touching any window's completeness (the
    filter is on the PARTITION key, so it pushes below the window).  One
    shuffle, one sort, every function shares the frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        orders.filter(F.col("o_custkey") % 20 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.first("o_orderkey").over(wf).alias("cheapest_order"),
            F.last("o_orderkey").over(wf).alias("priciest_order"),
            F.nth_value("o_orderkey", 2).over(wf).alias("second_cheapest"),
        )
    )


WINDOW_DISTRIBUTION_SQL = """
SELECT o_custkey, o_orderkey,
  round(percent_rank() OVER w, 6) AS pr,
  round(cume_dist() OVER w, 6) AS cd,
  first_value(o_orderkey) OVER wf AS cheapest_order,
  last_value(o_orderkey) OVER wf AS priciest_order,
  nth_value(o_orderkey, 2) OVER wf AS second_cheapest
FROM orders
WHERE o_custkey % 20 = 0
WINDOW
  w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey),
  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# mergeable-sketch rollup (DataSketches HLL) — the distinct-count analog
# of rollup_merge
# ---------------------------------------------------------------------------

def q_approx_distinct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-count rollup via DataSketches HLL builtins:
    per-(type, day) sketches are map-side partials persisted as BLOBS, and
    the per-type total comes from `hll_union_agg` over the |days|-row
    sketch table — the distinct-count analog of `rollup_merge`: a nightly
    job merges yesterday's sketch into the running total WITHOUT
    re-scanning raw events, which `approx_count_distinct` (a one-shot
    aggregate) cannot do.  Estimates are engine/seed-specific → rows-only
    driver check; error vs exact distinct is pytest-gated."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_users"),
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_daily_sketches"),
        )
        .orderBy("event_type")
    )


def q_approx_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap via DataSketches THETA sketches — the set
    OPERATIONS HLL cannot do: two per-segment sketches (high-value
    viewers / high-value purchasers) combine with theta_union /
    theta_intersection / theta_difference into overlap, reach, and
    exclusive-audience estimates WITHOUT ever joining the raw user sets.
    At 100 TB each segment's sketch is a KB-scale mergeable blob built in
    one pass; overlap queries across any segment pair become driver-cheap
    sketch algebra.  Estimates are exact below the sketch's nominal
    capacity (the fixture case — pytest-gated against exact distinct
    counts) and ~2% beyond it; sketch blobs are engine-specific →
    rows-only."""
    ev = load_table(spark, sf_dir, "events")
    seg = F.when(
        (F.col("event_type") == "view") & (F.col("value") > 98), "viewer"
    ).when(
        (F.col("event_type") == "purchase") & (F.col("value") > 98), "buyer"
    )
    sk = (
        ev.select(seg.alias("seg"), "user_id")
        .filter(F.col("seg").isNotNull())
        .groupBy("seg")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
    )
    both = sk.agg(
        F.expr("first(sk) FILTER (WHERE seg = 'viewer')").alias("v"),
        F.expr("first(sk) FILTER (WHERE seg = 'buyer')").alias("b"),
    )
    est = lambda e: F.expr(f"CAST(round(theta_sketch_estimate({e})) AS BIGINT)")  # noqa: E731
    return both.select(
        est("v").alias("est_viewers"),
        est("b").alias("est_buyers"),
        est("theta_intersection(v, b)").alias("est_both"),
        est("theta_union(v, b)").alias("est_either"),
        est("theta_difference(v, b)").alias("est_viewer_only"),
    )


def q_distinct_merge_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT surrogate for `approx_distinct_merge` (oracled companion —
    the r11 verdict's exact-surrogate task): the same per-type audience
    rollup computed from the raw rows, so the driver hash-verifies the
    grouping/date plumbing the HLL query shares, and the sketch's
    estimate has an in-repo exact twin to be graded against at any
    scale.  One multi-distinct aggregate (Catalyst plans count_distinct
    pairs via a single Expand — one shuffle, no joins)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.to_date("ts")).alias("n_days"),
        )
        .orderBy("event_type")
    )


DISTINCT_MERGE_EXACT_SQL = """
SELECT event_type,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_audience_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT surrogate for `approx_audience_overlap` (oracled companion):
    identical segment predicates, set algebra done on exact per-user
    flags instead of theta sketches.  One pass to per-user flags (the
    user_id groupBy), one O(1)-row rollup — the shape a pipeline runs to
    CALIBRATE its sketch estimates, and the hash-verified twin that
    pins the segment logic the sketch query shares."""
    ev = load_table(spark, sf_dir, "events")
    is_v = (F.col("event_type") == "view") & (F.col("value") > 98)
    is_b = (F.col("event_type") == "purchase") & (F.col("value") > 98)
    flags = (
        ev.filter(is_v | is_b)
        .groupBy("user_id")
        .agg(
            F.max(is_v.cast("int")).alias("v"),
            F.max(is_b.cast("int")).alias("b"),
        )
    )
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    return flags.agg(
        cnt(F.col("v") == 1).alias("n_viewers"),
        cnt(F.col("b") == 1).alias("n_buyers"),
        cnt((F.col("v") == 1) & (F.col("b") == 1)).alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_either"),
        cnt((F.col("v") == 1) & (F.col("b") == 0)).alias("n_viewer_only"),
    )


AUDIENCE_OVERLAP_EXACT_SQL = """
WITH flags AS (
  SELECT user_id,
    max(CASE WHEN event_type = 'view' AND value > 98 THEN 1 ELSE 0 END) AS v,
    max(CASE WHEN event_type = 'purchase' AND value > 98 THEN 1 ELSE 0 END) AS b
  FROM events
  WHERE (event_type = 'view' AND value > 98)
     OR (event_type = 'purchase' AND value > 98)
  GROUP BY user_id
)
SELECT
  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viewers,
  CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_buyers,
  CAST(sum(CASE WHEN v = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
  CAST(count(*) AS BIGINT) AS n_either,
  CAST(sum(CASE WHEN v = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_viewer_only
FROM flags
"""


def q_approx_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (`approx_top_k`): heaviest users by event
    count from ONE pass with bounded memory (maxItemsTracked), exploded to
    rows.  With maxItemsTracked ≥ the true cardinality the counts are
    exact (pytest-gated against the groupBy truth); at 100 TB cardinality
    the same plan degrades gracefully to approximate heavy-hitters —
    the point of the sketch.  Sketch internals → rows-only."""
    ev = load_table(spark, sf_dir, "events")
    tk = ev.agg(F.expr("approx_top_k(user_id, 10, 8192)").alias("tk"))
    return (
        tk.select(F.posexplode("tk").alias("rk", "e"))
        .select(
            (F.col("rk") + 1).cast("int").alias("rk"),
            F.col("e.item").alias("user_id"),
            F.col("e.count").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# count-min sketch (mergeable frequency sketch, engine-portable hashes)
# ---------------------------------------------------------------------------

# CMS geometry: depth d independent hash rows x width w counters.  The
# sketch is O(d*w) REGARDLESS of input size — the property that makes it
# the 100 TB frequency structure (HLL answers "how many distinct", CMS
# answers "how often does key k occur", both from bounded state).
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_P = (1 << 31) - 1  # Mersenne prime; a*key+b stays far inside int64


def _cms_params(depth: int) -> list[tuple[int, int]]:
    # fixed LCG stream (distinct seed from the MinHash one) so the hash
    # family is stable across runs AND reproducible in plain SQL — unlike
    # Spark's count_min_sketch()/DataFrame.stat sketches, whose binary
    # blobs are engine-specific and force a rows-only check
    params, state = [], 1181783497276652981
    for _ in range(depth):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (CMS_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % CMS_P
        params.append((a, b))
    return params


_CMS = _cms_params(CMS_DEPTH)


def _cms_hash_array(key, depth: int = CMS_DEPTH, width: int = CMS_WIDTH):
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("depth"),
                (((F.lit(a) * key + F.lit(b)) % F.lit(CMS_P)) % F.lit(width))
                .cast("int")
                .alias("bucket"),
            )
            for i, (a, b) in enumerate(_cms_params(depth))
        ]
    )


def cms_sketch(
    df: DataFrame, key: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Build a count-min sketch over ``df[key]`` as a (depth, bucket,
    cnt) table.  One narrow explode (x depth) then ONE groupBy whose key
    space is d*w regardless of input: map-side combine reduces shuffle
    traffic to O(tasks * d * w) — at 100 TB the sketch build moves
    kilobytes per task, never rows.  Two sketches with the same geometry
    merge by summing counters (a groupBy over their union) — the daily ->
    monthly rollup path, same as the HLL blob rollup but with counters
    that stay plain BIGINTs any engine can read."""
    return (
        df.select(F.explode(_cms_hash_array(F.col(key), depth, width)).alias("h"))
        .select("h.depth", "h.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-frequency estimates for ``keys`` from a CMS table:
    est(k) = min over rows of counter[i, h_i(k)] — never an
    underestimate (every occurrence of k incremented all its d
    counters), overestimates bounded by colliding mass ~N/w per row.
    The sketch is <= d*w rows, so the probe join is a broadcast —
    estimating ANY number of keys costs one scan of the key list."""
    probes = keys.select(
        key, F.explode(_cms_hash_array(F.col(key), depth, width)).alias("h")
    ).select(key, "h.depth", "h.bucket")
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy(key)
        .agg(F.min("cnt").alias("est_count"))
    )


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters answered FROM the sketch: build the CMS over the
    event stream, probe every distinct user, rank by estimated count.
    Deterministic LCG hashes -> the whole pipeline (build + probe) is
    reproduced exactly by the DuckDB oracle; the CMS one-sided guarantee
    (est >= true, bounded overshoot) is gated in tests/test_advanced.py."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = cms_sketch(ev, "user_id")
    est = cms_estimate(sketch, ev.distinct(), "user_id")
    return est.orderBy(F.col("est_count").desc(), "user_id").limit(20)


def _cms_sql() -> str:
    build = "\n    UNION ALL\n".join(
        f"    SELECT {i} AS depth, (({a} * user_id + {b}) % {CMS_P}) % {CMS_WIDTH} AS bucket FROM ev"
        for i, (a, b) in enumerate(_CMS)
    )
    probe = "\n    UNION ALL\n".join(
        f"    SELECT user_id, {i} AS depth, (({a} * user_id + {b}) % {CMS_P}) % {CMS_WIDTH} AS bucket FROM users"
        for i, (a, b) in enumerate(_CMS)
    )
    return f"""
WITH ev AS (SELECT user_id FROM events),
sketch AS (
  SELECT depth, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
{build}
  ) GROUP BY depth, bucket
),
users AS (SELECT DISTINCT user_id FROM ev),
probes AS (
{probe}
),
est AS (
  SELECT user_id, min(cnt) AS est_count
  FROM probes JOIN sketch USING (depth, bucket)
  GROUP BY user_id
)
SELECT user_id, est_count FROM est
ORDER BY est_count DESC, user_id
LIMIT 20
"""


CMS_USER_COUNTS_SQL = _cms_sql()


# ---------------------------------------------------------------------------
# cube aggregation (all grouping-set combinations)
# ---------------------------------------------------------------------------

def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count("l_orderkey").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


CUBE_AGG_SQL = """
SELECT l_returnflag, l_linestatus,
       count(l_orderkey) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous GROUPING SETS — the multi-grain report a cube cannot
    express without wasted grains: (flag × status), (ship year), and the
    grand total, in ONE pass.  The planner runs a single Expand + one
    hash aggregate, so the fact shuffles once for all three grains — at
    100 TB this replaces three separate scan+agg jobs (the naive UNION
    ALL) with one; Expand multiplies rows only by the number of sets
    (3×) BEFORE the map-side partial agg collapses them.  `gid` is built
    from single-column grouping() bits on both sides because engines
    disagree on multi-arg grouping_id bit order."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    gid = (
        F.grouping("l_returnflag") * 4
        + F.grouping("l_linestatus") * 2
        + F.grouping("ship_year")
    ).cast("int")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["ship_year"], []],
        "l_returnflag",
        "l_linestatus",
        "ship_year",
    ).agg(
        F.count("l_orderkey").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        gid.alias("gid"),
    )


GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, ship_year,
       count(l_orderkey) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2
            + GROUPING(ship_year) AS INTEGER) AS gid
FROM (SELECT *, CAST(year(l_shipdate) AS INTEGER) AS ship_year FROM lineitem)
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
"""


# ---------------------------------------------------------------------------
# pivot (wide conditional aggregation)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
    return (
        events.groupBy(hour.alias("hour"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count("event_id"))
        .na.fill(0, list(_EVENT_TYPES))
    )


PIVOT_EVENTS_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS error
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# set operations (INTERSECT / EXCEPT)
# ---------------------------------------------------------------------------

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    # customer keys with orders vs user ids with events: intersect/except
    a = orders.select(F.col("o_custkey").alias("k")).distinct()
    b = events.select(F.col("user_id").alias("k")).distinct()
    both = a.intersect(b).agg(F.count("k").alias("cnt")).select(F.lit("both").alias("side"), "cnt")
    only_a = a.exceptAll(b).agg(F.count("k").alias("cnt")).select(F.lit("orders_only").alias("side"), "cnt")
    only_b = b.exceptAll(a).agg(F.count("k").alias("cnt")).select(F.lit("events_only").alias("side"), "cnt")
    return both.unionByName(only_a).unionByName(only_b)


SET_OPS_SQL = """
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders),
     b AS (SELECT DISTINCT user_id AS k FROM events)
SELECT 'both' AS side, count(k) AS cnt FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
UNION ALL
SELECT 'orders_only', count(k) FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
UNION ALL
SELECT 'events_only', count(k) FROM (SELECT k FROM b EXCEPT SELECT k FROM a)
"""


# ---------------------------------------------------------------------------
# top-k terms per group (explode + window rank — the frequency-analysis
# shape every corpus pipeline needs)
# ---------------------------------------------------------------------------

def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realparse_spark.operators.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(ws_tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return counts.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 3
    ).select("lang", "term", "n", F.col("rnk").cast("int").alias("rnk"))


TOP_TERMS_SQL = r"""
WITH counts AS (
  SELECT lang, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
  FROM documents
),
agg AS (
  SELECT lang, term, count(*) AS n FROM counts GROUP BY lang, term
),
ranked AS (
  SELECT lang, term, n,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS INTEGER) AS rnk
  FROM agg
)
SELECT lang, term, n, rnk FROM ranked WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# exact percentiles (median / p95 view-time analog)
# ---------------------------------------------------------------------------

def q_percentile_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", [0.5, 0.95])
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.element_at(pct, 1), 4).alias("p50_price"),
        F.round(F.element_at(pct, 2), 4).alias("p95_price"),
        F.count("l_orderkey").alias("n"),
    )


PERCENTILE_METRICS_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
       count(l_orderkey) AS n
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# unpivot / melt (wide metrics -> long) — inverse of pivot_events
# ---------------------------------------------------------------------------

def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-doc stats melted to (doc_id, metric, value) rows via the
    native unpivot operator (Expand node: one pass, no join/shuffle)."""
    from realparse_spark.operators.text import token_count_bpe, token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    wide = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        token_count_ws(F.col("text")).cast("long").alias("n_tokens_ws"),
        token_count_bpe(F.col("text")).cast("long").alias("n_tokens_bpe"),
    )
    return wide.unpivot(
        ids="doc_id",
        values=["n_chars", "n_tokens_ws", "n_tokens_bpe"],
        variableColumnName="metric",
        valueColumnName="value",
    )


UNPIVOT_METRICS_SQL = r"""
WITH wide AS (
  SELECT doc_id,
    CAST(n_chars AS BIGINT) AS n_chars,
    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens_ws,
    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_tokens_bpe
  FROM documents
)
SELECT doc_id, 'n_chars' AS metric, n_chars AS value FROM wide
UNION ALL
SELECT doc_id, 'n_tokens_ws', n_tokens_ws FROM wide
UNION ALL
SELECT doc_id, 'n_tokens_bpe', n_tokens_bpe FROM wide
"""


# ---------------------------------------------------------------------------
# pricing summary (TPC-H Q1 shape) — the canonical wide-agg scan
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide aggregate over the fact table with exact-decimal money math
    (house decimal rule: exact decimal sums, ONE IEEE division at the end,
    identical in both engines).  The 3-factor charge product is staged
    through decimal(18,4) so neither engine exceeds decimal width 38.
    Plan shape at 100 TB: scan (shipdate filter pushed) -> partial agg ->
    one exchange on the 6-group key -> final agg."""
    # (no fan_out: measured — the cost here is the unsplittable
    # single-row-group fixture scan itself, not the agg, so a repartition
    # only adds a shuffle.  Real inputs arrive as many splits.)
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    one_minus_disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    one_plus_tax = (F.lit(1.0) + F.col("l_tax")).cast("decimal(18,2)")
    disc_price = (ep * one_minus_disc).cast("decimal(18,4)")
    charge = (disc_price * one_plus_tax).cast("decimal(18,6)")
    n = F.count(F.lit(1))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(ep).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.round(F.sum(qty).cast("double") / n, 4).alias("avg_qty"),
        F.round(F.sum(ep).cast("double") / n, 4).alias("avg_price"),
        F.round(
            F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double") / n, 6
        ).alias("avg_disc"),
        n.alias("count_order"),
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)) * CAST(1.0 + l_tax AS DECIMAL(18,2)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# per-doc distinctive terms (tf-idf analog on integer keys)
# ---------------------------------------------------------------------------

def q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document: rank by term frequency desc,
    then GLOBAL document frequency asc (rarer term wins the tie — the
    tf-idf ordering re-expressed on integer keys so both engines agree
    bit-for-bit; float idf logs differ across libms).  Shape at scale:
    explode -> (doc,term) agg -> term-df agg joined back on term -> per-doc
    window (hash-partitioned by doc_id, never global)."""
    from realparse_spark.operators.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", F.col("rnk").cast("int").alias("rnk"))
    )


DOC_TOP_TERMS_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
    CAST(row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS INTEGER) AS rnk
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, term, tf, df, rnk FROM ranked WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# numeric histogram (width_bucket binning)
# ---------------------------------------------------------------------------

def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event type — the binning
    primitive behind quality-score / length distribution dashboards.
    Binning is floor(value / width) with one IEEE division + exact floor,
    so both engines bin identically (width_bucket's internal formula is
    engine-specific; DuckDB doesn't have it at all).  One shuffle on the
    (event_type, bucket) key."""
    ev = load_table(spark, sf_dir, "events")
    b = F.least(F.floor(F.col("value") / 50.0), F.lit(9))
    return (
        ev.groupBy("event_type", b.cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


VALUE_HISTOGRAM_SQL = """
SELECT event_type,
  CAST(least(floor(value / 50.0), 9) AS INTEGER) AS bucket,
  count(*) AS n,
  round(min(value), 6) AS lo,
  round(max(value), 6) AS hi
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# revenue by nation (TPC-H Q5 shape) — the canonical multi-way join
# ---------------------------------------------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join: fact (lineitem) against orders + four dims,
    with the local-supplier condition (customer and supplier in the same
    nation).  Plan at scale: region/nation/supplier/customer broadcast
    (explicit hints), so the fact table shuffles only for the
    lineitem⋈orders equi-join and the final 5-group agg; date and region
    filters are pushed to the scans.  Exact-decimal revenue."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    ).cast("decimal(18,4)")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


REVENUE_BY_NATION_SQL = """
SELECT n_name,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# SQL interface (spark.sql over registered views — API parity proof)
# ---------------------------------------------------------------------------

# one statement template, two engines: the same text (modulo table names)
# runs under spark.sql and DuckDB (the decimal-cast rule keeps the
# aggregates bit-identical).  Table names are templated so the Spark side
# can scope its temp views per sf_dir — fixed view names would make two
# sf_dirs in one session collide (the oracle keeps the plain names the
# driver pre-registers).
_SQL_INTERFACE_TEXT = """
SELECT o.o_orderpriority,
  count(*) AS n_orders,
  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_total
FROM {orders} o
JOIN {customer} c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderpriority
"""


def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door: the same ANSI statement the DuckDB
    oracle runs goes through spark.sql over registered views — Catalyst
    plans it like any DataFrame query (broadcast dim, pushed filter).
    Views are temp views over the parquet tables, name-scoped by a hash of
    the sf_dir so concurrent/sequential use of several sf_dirs in one
    session stays correct and independent."""
    import hashlib
    import os

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    names = {}
    for t in ("orders", "customer"):
        names[t] = f"{t}_{tag}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(names[t])
    return spark.sql(_SQL_INTERFACE_TEXT.format(**names))


# ---------------------------------------------------------------------------
# funnel conversion (event-sequence analytics)
# ---------------------------------------------------------------------------

def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> purchase funnel: for each user's FIRST view, the first
    purchase within the next hour.  Shape: two filtered scans of the same
    fact (each filter pushed), an equi-join on user_id with a range
    predicate on ts (hash join + residual filter — never a cross product),
    one groupBy.  At 100 TB both sides partition by user_id."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = views.join(
        purch,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("first_view"))
        & (F.col("p_ts") <= F.col("first_view") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy("user_id", "first_view").agg(
        F.min("p_ts").alias("first_purchase"),
        F.max(F.col("p_ts").isNotNull()).alias("converted"),
    )


FUNNEL_CONVERSION_SQL = """
WITH views AS (
  SELECT user_id, min(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
purch AS (
  SELECT user_id AS p_user, ts AS p_ts FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id, v.first_view,
  min(p.p_ts) AS first_purchase,
  coalesce(max(p.p_ts IS NOT NULL), false) AS converted
FROM views v
LEFT JOIN purch p
  ON v.user_id = p.p_user
 AND p.p_ts >= v.first_view
 AND p.p_ts <= v.first_view + INTERVAL 1 HOUR
GROUP BY v.user_id, v.first_view
"""


# ---------------------------------------------------------------------------
# grouped vector aggregation: per-label embedding centroids
# ---------------------------------------------------------------------------

def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form (label, pos, centroid) —
    the grouped-vector-mean primitive a centroid-based index build runs
    (the update step of `selection._kmeans_assigned`).  posexplode -> one shuffle on
    (label, pos); sums are exact decimals with ONE IEEE division, so both
    engines agree bit-for-bit despite float inputs.

    Cross-engine cast rule: DuckDB casts FLOAT->DECIMAL through the
    shortest decimal string (0.1f -> 0.100000000) while Spark goes through
    the binary double value (0.1f -> 0.100000001); the oracle must cast
    FLOAT->DOUBLE->DECIMAL to match Spark."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    n = F.count(F.lit(1))
    return ex.groupBy("label", F.col("pos").cast("int").alias("pos")).agg(
        n.alias("n"),
        F.round(
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / n, 6
        ).alias("centroid"),
    )


EMB_CENTROIDS_SQL = """
WITH ex AS (
  SELECT label,
    unnest(range(0, len(embedding))) AS pos,
    unnest(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)))) AS v
  FROM embeddings
)
SELECT label, CAST(pos AS INTEGER) AS pos, count(*) AS n,
  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS centroid
FROM ex GROUP BY label, pos
"""


# ---------------------------------------------------------------------------
# embedding drift monitor: epoch-over-epoch centroid shift per label
# ---------------------------------------------------------------------------

def q_emb_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label drift between two ingest epochs of the embedding table:
    centroid cosine (1.0 = no drift), per-epoch member counts, and the
    count delta — the monitor a pipeline reads when a new encoder
    version or a crawl shift silently moves a label's embedding cloud
    (downstream ANN indexes and SemDeDup blocks both assume stability).
    The fixture has no ingest timestamps, so epochs are the
    deterministic vec_id parity split; production partitions by load
    date and compares adjacent snapshots with the same plan.

    Exactness: per-epoch centroids are the emb_centroids discipline
    (exact decimal sums, one IEEE division, round 6); the cosine runs
    over the two O(dim) rounded vectors — engine-identical inputs, one
    fold each for dot and norms.

    Scale: ONE posexplode shuffled on (label, epoch, pos) — map-side
    combined; everything after is O(labels · dim) then O(labels).  No
    joins against the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.pmod(F.col("vec_id"), F.lit(2)).cast("int").alias("epoch"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    cent = ex.groupBy("label", "epoch", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c"),
        # per-dimension row count is the member count (same for every
        # pos of a (label, epoch)); max() collapses it without a join
        F.count(F.lit(1)).alias("n"),
    )
    vecs = cent.groupBy("label", "epoch").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cvec"),
        F.max("n").cast("bigint").alias("n_members"),
    )
    a = vecs.filter(F.col("epoch") == 0).select(
        "label", F.col("cvec").alias("ca"), F.col("n_members").alias("n_epoch0")
    )
    b = vecs.filter(F.col("epoch") == 1).select(
        "label", F.col("cvec").alias("cb"), F.col("n_members").alias("n_epoch1")
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)  # noqa: E731
    dot = fold(F.zip_with(F.col("ca"), F.col("cb"), lambda x, y: x * y))
    na = F.sqrt(fold(F.transform(F.col("ca"), lambda x: x * x)))
    nb = F.sqrt(fold(F.transform(F.col("cb"), lambda x: x * x)))
    return (
        # FULL OUTER: a label whose members all land in one epoch is the
        # loudest drift signal there is — an inner join would silently
        # drop it (round-10 ADVICE; the theil_sen_trend single-day
        # lesson).  One-sided labels keep NULL centroid_cos, a 0 default
        # for the missing epoch's count, and a signed n_delta.
        a.join(b, "label", "full_outer")
        .select(
            "label",
            F.coalesce("n_epoch0", F.lit(0)).cast("bigint").alias("n_epoch0"),
            F.coalesce("n_epoch1", F.lit(0)).cast("bigint").alias("n_epoch1"),
            (
                F.coalesce("n_epoch1", F.lit(0)) - F.coalesce("n_epoch0", F.lit(0))
            )
            .cast("bigint")
            .alias("n_delta"),
            # an all-zero epoch centroid has no direction: engines
            # disagree on 0/0 (NaN vs NULL), so the cosine is NULL —
            # and NULL likewise when either epoch is absent entirely
            F.when((na > 0) & (nb > 0), F.round(dot / (na * nb), 6)).alias(
                "centroid_cos"
            ),
        )
        .orderBy("label")
    )


EMB_DRIFT_SQL = """
WITH ex AS (
  SELECT label, CAST(vec_id % 2 AS INTEGER) AS epoch,
    unnest(range(0, len(embedding))) AS pos,
    unnest(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)))) AS v
  FROM embeddings
),
cent AS (
  SELECT label, epoch, pos,
    round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS c,
    count(*) AS n
  FROM ex GROUP BY label, epoch, pos
),
vecs AS (
  SELECT label, epoch, list(c ORDER BY pos) AS cvec,
         CAST(max(n) AS BIGINT) AS n_members
  FROM cent GROUP BY label, epoch
)
-- FULL OUTER on label: a one-epoch label must surface with NULL
-- centroid_cos and a 0 default for the missing epoch's count, not
-- silently vanish (round-10 ADVICE) — mirrors q_emb_drift exactly
SELECT COALESCE(a.label, b.label) AS label,
  CAST(COALESCE(a.n_members, 0) AS BIGINT) AS n_epoch0,
  CAST(COALESCE(b.n_members, 0) AS BIGINT) AS n_epoch1,
  CAST(COALESCE(b.n_members, 0) - COALESCE(a.n_members, 0) AS BIGINT) AS n_delta,
  CASE WHEN sqrt(list_aggregate(list_transform(a.cvec, x -> x * x), 'sum')) > 0
        AND sqrt(list_aggregate(list_transform(b.cvec, x -> x * x), 'sum')) > 0
  THEN round(
    list_aggregate(list_transform(range(1, len(a.cvec) + 1), i -> a.cvec[i] * b.cvec[i]), 'sum')
    / (sqrt(list_aggregate(list_transform(a.cvec, x -> x * x), 'sum'))
       * sqrt(list_aggregate(list_transform(b.cvec, x -> x * x), 'sum'))), 6
  ) END AS centroid_cos
FROM (SELECT * FROM vecs WHERE epoch = 0) a
FULL OUTER JOIN (SELECT * FROM vecs WHERE epoch = 1) b USING (label)
ORDER BY COALESCE(a.label, b.label)
"""


# ---------------------------------------------------------------------------
# window-relative filter: parts priced above their brand average
# ---------------------------------------------------------------------------

def q_above_avg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows above their group's average — the correlated-scalar-subquery
    shape, expressed as a window aggregate (one shuffle on the group key;
    a correlated subquery would be a second scan + join).  The average is
    an exact decimal sum with one IEEE division in both engines, so the
    > comparison can't flake at the boundary."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    brand_avg = (
        F.sum(F.col("p_retailprice").cast("decimal(18,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        part.withColumn("brand_avg", brand_avg)
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .select(
            "p_partkey", "p_brand", "p_retailprice",
            F.round("brand_avg", 4).alias("brand_avg"),
        )
    )


ABOVE_AVG_PARTS_SQL = """
WITH w AS (
  SELECT p_partkey, p_brand, p_retailprice,
    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) OVER (PARTITION BY p_brand) AS DOUBLE)
      / count(*) OVER (PARTITION BY p_brand) AS brand_avg
  FROM part
)
SELECT p_partkey, p_brand, p_retailprice, round(brand_avg, 4) AS brand_avg
FROM w WHERE p_retailprice > brand_avg
"""


QUERIES = {
    "rollup_agg": q_rollup_agg,
    "unpivot_metrics": q_unpivot_metrics,
    "pricing_summary": q_pricing_summary,
    "doc_top_terms": q_doc_top_terms,
    "value_histogram": q_value_histogram,
    "revenue_by_nation": q_revenue_by_nation,
    "funnel_conversion": q_funnel_conversion,
    "sql_interface": q_sql_interface,
    "emb_centroids": q_emb_centroids,
    "emb_drift": q_emb_drift,
    "above_avg_parts": q_above_avg_parts,
    "cube_agg": q_cube_agg,
    "grouping_sets_agg": q_grouping_sets,
    "interval_overlap_join": q_interval_overlap_join,
    "pivot_events": q_pivot_events,
    "set_ops": q_set_ops,
    "top_terms": q_top_terms,
    "percentile_metrics": q_percentile_metrics,
    "sliding_window": q_sliding_window,
    "asof_join": q_asof_join,
    "range_band_join": q_range_band_join,
    "window_rank": q_window_rank,
    "window_distribution": q_window_distribution,
    "approx_distinct": q_approx_distinct,
    "approx_distinct_merge": q_approx_distinct_merge,
    "distinct_merge_exact": q_distinct_merge_exact,
    "approx_topk_users": q_approx_topk_users,
    "approx_audience_overlap": q_approx_audience_overlap,
    "audience_overlap_exact": q_audience_overlap_exact,
    "approx_quantiles": q_approx_quantiles,
    "cms_user_counts": q_cms_user_counts,
}

ORACLES = {
    "rollup_agg": ROLLUP_AGG_SQL,
    "unpivot_metrics": UNPIVOT_METRICS_SQL,
    "pricing_summary": PRICING_SUMMARY_SQL,
    "doc_top_terms": DOC_TOP_TERMS_SQL,
    "value_histogram": VALUE_HISTOGRAM_SQL,
    "revenue_by_nation": REVENUE_BY_NATION_SQL,
    "funnel_conversion": FUNNEL_CONVERSION_SQL,
    "sql_interface": _SQL_INTERFACE_TEXT.format(orders="orders", customer="customer"),
    "emb_centroids": EMB_CENTROIDS_SQL,
    "emb_drift": EMB_DRIFT_SQL,
    "above_avg_parts": ABOVE_AVG_PARTS_SQL,
    "cube_agg": CUBE_AGG_SQL,
    "grouping_sets_agg": GROUPING_SETS_SQL,
    "interval_overlap_join": INTERVAL_OVERLAP_JOIN_SQL,
    "pivot_events": PIVOT_EVENTS_SQL,
    "set_ops": SET_OPS_SQL,
    "top_terms": TOP_TERMS_SQL,
    "percentile_metrics": PERCENTILE_METRICS_SQL,
    "sliding_window": SLIDING_WINDOW_SQL,
    "asof_join": ASOF_JOIN_SQL,
    "range_band_join": RANGE_BAND_JOIN_SQL,
    "window_rank": WINDOW_RANK_SQL,
    "window_distribution": WINDOW_DISTRIBUTION_SQL,
    # approx_distinct: HLL sketch values are engine-specific -> rows-only;
    # accuracy bound asserted in tests/test_advanced.py.
    # cms_user_counts by contrast IS exactly oracled: its LCG hash family
    # is plain int64 arithmetic either engine reproduces bit-for-bit.
    "cms_user_counts": CMS_USER_COUNTS_SQL,
    # the sketch family's exact-surrogate companions (hash-verified twins
    # of approx_distinct_merge / approx_audience_overlap)
    "distinct_merge_exact": DISTINCT_MERGE_EXACT_SQL,
    "audience_overlap_exact": AUDIENCE_OVERLAP_EXACT_SQL,
}
