"""The reference's report generator re-expressed as one Spark job
(pull_report.pl, SURVEY.md §3.3).

`pull_report` takes the star-schema tables + reporting dims and produces
the per-(customer, project, pattern) metric rows that the reference
computes with 4·N scalar MySQL queries in a driver-side nested loop
(pull_report.pl:34-64, 96-175).  Shape: broadcast the (tiny) dim chain,
non-equi LIKE join to the fact (file⋈access, filtered once), single
groupBy with all four aggregates.

`log_report_e2e` is the differential-tested version over synthesized
style-5 lines: parse -> report in one plan, oracle'd in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from realparse_spark.functions.scalars import duration_hms
from realparse_spark.operators.parse import parse_style5
from realparse_spark.operators.parse_queries import _STYLE5_LINES_SQL, synth_style5
from realparse_spark.sources.tables import load_table


def pull_report(
    access: DataFrame,
    file: DataFrame,
    customers: DataFrame,
    project: DataFrame,
    project_file: DataFrame,
) -> DataFrame:
    """Reference semantics, column for column:

    - F10 hosting='Yes' customer filter        (pull_report.pl:84)
    - J3  customers ⋈ project ⋈ project_file   (pull_report.pl:34-48)
    - F6  file.name LIKE pattern               (pull_report.pl:99)
    - J1  file ⋈ access on access_id           (pull_report.pl:99)
    - F5  ip NOT LIKE '192.168.%'              (pull_report.pl:99)
    - F7  file_time/sent_time != 0, F8 sent<=file (pull_report.pl:116,139)
    - A3-A5 count / max / round(avg) / max     (pull_report.pl:96-175)
    - F9  wmv/wma/mov -> N/A, F12 null -> N/A  (pull_report.pl:113-115)
    - C11 duration format                      (pull_report.pl:178-187)
    """
    dims = (
        customers.filter(F.col("hosting") == "Yes")
        .join(project, customers["id"] == project["customer_id"])
        .join(project_file, "project_id")
    )
    fact = (
        file.join(access, "access_id")
        .filter(~F.col("client_ip_address").like("192.168.%"))
    )
    joined = fact.join(F.broadcast(dims), F.expr("name LIKE pattern"), "inner")

    gated = F.col("pattern").rlike(r"\.(wmv|wma|mov)")  # F9 short-circuit
    return _view_metrics(joined, ["customer_id", "project_id", "pattern", "company_name"], gated)


def _view_metrics(fact: DataFrame, keys: list[str], gated: Column) -> DataFrame:
    """The report's metrics of each `keys` group of `fact` rows: A3 view
    count, A4 clip length (longest nonzero file_time, F7), A5 average and
    longest view over the sent_time values F7/F8 keep (the average rounded
    to seconds), each C11-formatted and 'N/A' where `gated` (F9) holds or
    the value is NULL (F12)."""
    sent = F.when((F.col("sent_time") != 0) & (F.col("sent_time") <= F.col("file_time")),
                  F.col("sent_time"))
    agg = fact.groupBy(*keys).agg(
        F.count("name").alias("n_views"),
        F.max(F.when(F.col("file_time") != 0, F.col("file_time"))).alias("_clip"),
        # try_divide: a group where no row passes the sent guard has count 0
        # — ANSI sessions raise DIVIDE_BY_ZERO on plain `/`, while the
        # DuckDB oracle yields NULL. try_divide yields NULL too.
        F.round(
            F.try_divide(F.sum(sent.cast("decimal(18,2)")).cast("double"), F.count(sent)), 0
        ).alias("_avg"),
        F.max(sent).alias("_longest"),
    )

    def na(col: str) -> Column:
        return F.coalesce(F.when(~gated, duration_hms(F.col(col))), F.lit("N/A"))

    return agg.select(
        *keys, "n_views",
        na("_clip").alias("clip_length"),
        na("_avg").alias("avg_view_time"),
        na("_longest").alias("longest_view_time"),
    )


# ---------------------------------------------------------------------------
# end-to-end differential query: synth lines -> parse -> report
# ---------------------------------------------------------------------------


def q_log_report_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    parsed = parse_style5(synth_style5(events))
    # parsed rows already carry both file- and access-side fields (the load
    # would split them; the report re-joins them — skip the round trip).
    fact = parsed.filter(~F.col("client_ip_address").like("10.1%"))  # F5 analog
    gated = F.col("path").rlike(r"archive|audio")  # F9 analog on the group key
    return _view_metrics(fact, ["path"], gated)


LOG_REPORT_E2E_SQL = (
    "WITH "
    + _STYLE5_LINES_SQL.strip()
    + r""",
parsed AS (
  SELECT
    regexp_extract(value, '^(\S+)', 1) AS client_ip_address,
    regexp_extract(value, '"(\S+) (.*?) (\S+)"', 2) AS fn,
    CASE WHEN regexp_matches(regexp_extract_all(value, '\s(\d+)', 1)[1], '[69_]\w')
         THEN regexp_extract_all(value, '\s(\d+)', 1)[2:]
         ELSE regexp_extract_all(value, '\s(\d+)', 1) END AS t
  FROM lines
),
fields AS (
  SELECT client_ip_address,
    CASE WHEN contains(fn, '/')
         THEN substring(fn, 1, length(fn) - length(string_split(fn, '/')[-1]) - 1)
         ELSE '' END AS path,
    CASE WHEN regexp_extract(string_split(fn, '/')[-1], '^(.+\.\w*)', 1) = ''
         THEN string_split(fn, '/')[-1]
         ELSE regexp_extract(string_split(fn, '/')[-1], '^(.+\.\w*)', 1) END AS name,
    CAST(t[-5] AS INTEGER) AS file_time,
    CAST(t[-4] AS INTEGER) AS sent_time
  FROM parsed
),
fact AS (
  SELECT * FROM fields WHERE client_ip_address NOT LIKE '10.1%'
),
agg AS (
  SELECT path,
    count(name) AS n_views,
    max(CASE WHEN file_time <> 0 THEN file_time END) AS _clip,
    round(CAST(sum(CAST(CASE WHEN sent_time <> 0 AND sent_time <= file_time THEN sent_time END AS DECIMAL(18,2))) AS DOUBLE)
          / count(CASE WHEN sent_time <> 0 AND sent_time <= file_time THEN sent_time END), 0) AS _avg,
    max(CASE WHEN sent_time <> 0 AND sent_time <= file_time THEN sent_time END) AS _longest
  FROM fact GROUP BY path
)
SELECT path, n_views,
  coalesce(CASE WHEN NOT regexp_matches(path, 'archive|audio') THEN
    CASE WHEN CAST(_clip AS BIGINT) >= 3600 THEN printf('%d:%02d:%02d', _clip // 3600, (_clip % 3600) // 60, _clip % 60)
         WHEN _clip IS NOT NULL THEN printf('%d:%02d', _clip // 60, _clip % 60) END
  END, 'N/A') AS clip_length,
  coalesce(CASE WHEN NOT regexp_matches(path, 'archive|audio') THEN
    CASE WHEN CAST(_avg AS BIGINT) >= 3600 THEN printf('%d:%02d:%02d', CAST(_avg AS BIGINT) // 3600, (CAST(_avg AS BIGINT) % 3600) // 60, CAST(_avg AS BIGINT) % 60)
         WHEN _avg IS NOT NULL THEN printf('%d:%02d', CAST(_avg AS BIGINT) // 60, CAST(_avg AS BIGINT) % 60) END
  END, 'N/A') AS avg_view_time,
  coalesce(CASE WHEN NOT regexp_matches(path, 'archive|audio') THEN
    CASE WHEN CAST(_longest AS BIGINT) >= 3600 THEN printf('%d:%02d:%02d', _longest // 3600, (_longest % 3600) // 60, _longest % 60)
         WHEN _longest IS NOT NULL THEN printf('%d:%02d', _longest // 60, _longest % 60) END
  END, 'N/A') AS longest_view_time
FROM agg
"""
)


QUERIES = {"log_report_e2e": q_log_report_e2e}
ORACLES = {"log_report_e2e": LOG_REPORT_E2E_SQL}
