"""Command-line entry points — the reference's four cron scripts as one CLI.

A RealParse user operates the reference by cron-invoking Perl scripts
(`real_parse.pl`, `web_parse.pl`, `pull_report.pl`) and debugging parsers
with `open_log.pl`.  This module is the switch-over surface: the same four
operations (plus the engine-native extras) as subcommands of
``python -m realparse_spark``:

    load-real    real_parse.pl   — incremental style-5 load into the warehouse
    load-web     web_parse.pl    — incremental Caudium load (.wma/.wmv)
    report       pull_report.pl  — per-customer formatted report to stdout
    open-log     open_log.pl     — parse a log file and print fields (no writes)
    compact      (engine-native) — rewrite a parquet table into fewer files
    query        (engine-native) — run any registered analytics query

The CLI is a THIN shell: every subcommand calls the same library function
the tests and the driver contract exercise (`load_style5`, `load_weblog`,
`pull_report`, `parse_*`, `compact_table`, `registry.all_queries`) —
no logic lives here, so cron invocation and programmatic use cannot drift.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m realparse_spark",
        description="PySpark-native RealParse: loads, reports, analytics queries",
    )
    sub = p.add_subparsers(dest="command", required=True)

    lr = sub.add_parser("load-real", help="incremental RealServer style-5 load")
    lr.add_argument("--log-dir", required=True)
    lr.add_argument("--warehouse", required=True)
    lr.add_argument("--config", default=None, help="rmserver.cfg path (F3 gate)")
    lr.add_argument("--latest", type=int, default=2, help="rotated files to read")
    lr.add_argument("--prefix", default="rmaccess")

    lw = sub.add_parser("load-web", help="incremental Caudium web-log load")
    lw.add_argument("--log-dir", required=True)
    lw.add_argument("--warehouse", required=True)
    lw.add_argument("--latest", type=int, default=2)
    lw.add_argument("--prefix", default="log.")

    rp = sub.add_parser("report", help="per-customer report (pull_report.pl)")
    rp.add_argument("--warehouse", required=True)
    rp.add_argument("--customers", required=True, help="contacts.main parquet path")
    rp.add_argument("--project", required=True, help="project parquet path")
    rp.add_argument("--project-file", required=True, help="project_file parquet path")

    ol = sub.add_parser("open-log", help="parse a log file and print fields")
    ol.add_argument("--file", required=True)
    ol.add_argument(
        "--parser", choices=("style5", "positional", "web"), default="style5"
    )
    ol.add_argument("--limit", type=int, default=20)

    cp = sub.add_parser("compact", help="compact a parquet table's small files")
    cp.add_argument("--path", required=True)
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--partition-by", default=None,
                    help="comma-separated partition columns, if any")
    cp.add_argument("--zorder", default=None,
                    help="comma-separated numeric columns to Z-order "
                         "cluster on during the rewrite (unpartitioned only)")

    q = sub.add_parser("query", help="run a registered analytics query")
    q.add_argument("--name", help="query name (see --list)")
    q.add_argument("--sf-dir", default=None, help="table directory (parquet per table)")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--list", action="store_true", help="list available queries")
    q.add_argument(
        "--explain", action="store_true",
        help="print the formatted physical plan instead of rows",
    )

    return p


def _print_df(df: DataFrame, limit: int) -> None:
    """TSV to stdout: header, up to `limit` rows, then the total count —
    bounded driver materialization (a CLI prints; it does not collect the
    corpus)."""
    rows = df.limit(limit + 1).collect()  # limit+1: one job answers "more?"
    print("\t".join(df.columns))
    for r in rows[:limit]:
        print("\t".join("" if v is None else str(v) for v in r))
    if len(rows) > limit:
        print(f"... (more than {limit} rows)", file=sys.stderr)


def cmd_load_real(args, spark: SparkSession) -> int:
    from realparse_spark.operators.load import load_style5

    counts = load_style5(
        spark, args.log_dir, args.warehouse,
        config_path=args.config, latest=args.latest, prefix=args.prefix,
    )
    if not counts:
        # F3 gate: the reference aborts unless LoggingStyle == 5
        print("logging style is not 5; nothing loaded (real_parse.pl:186-188)")
        return 1
    print(json.dumps(counts, sort_keys=True))  # the "Data inserted" audit line
    return 0


def cmd_load_web(args, spark: SparkSession) -> int:
    from realparse_spark.operators.load import load_weblog

    counts = load_weblog(
        spark, args.log_dir, args.warehouse, latest=args.latest, prefix=args.prefix
    )
    print(json.dumps(counts, sort_keys=True))
    return 0


def cmd_report(args, spark: SparkSession) -> int:
    from realparse_spark.operators.load import read_warehouse_table
    from realparse_spark.operators.log_report import pull_report

    access = read_warehouse_table(spark, args.warehouse, "access")
    file = read_warehouse_table(spark, args.warehouse, "file")
    if access is None or file is None:
        print("warehouse has no access/file tables; run a load first", file=sys.stderr)
        return 1
    rep = pull_report(
        access,
        file,
        spark.read.parquet(args.customers),
        spark.read.parquet(args.project),
        spark.read.parquet(args.project_file),
    ).orderBy("customer_id", "project_id", "pattern")
    for r in rep.collect():  # report output is |customers × patterns| — tiny
        # the C13 sprintf lines (pull_report.pl:53-57)
        print(f"{r.company_name}  {r.pattern}")
        print(f"  views={r.n_views}  clip={r.clip_length}  "
              f"avg={r.avg_view_time}  longest={r.longest_view_time}")
    return 0


def cmd_open_log(args, spark: SparkSession) -> int:
    from realparse_spark.operators import parse as P

    lines = spark.read.text(args.file)
    fn = {
        "style5": P.parse_style5,
        "positional": P.parse_positional,
        "web": P.parse_weblog,
    }[args.parser]
    _print_df(fn(lines, line_col="value"), args.limit)
    return 0


def cmd_compact(args, spark: SparkSession) -> int:
    from realparse_spark.operators.compact import compact_table, table_file_stats

    before = table_file_stats(spark, args.path)
    compact_table(
        spark, args.path,
        target_file_bytes=args.target_mb * 1024 * 1024,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
        zorder_cols=args.zorder.split(",") if args.zorder else None,
    )
    after = table_file_stats(spark, args.path)
    print(json.dumps({
        "files_before": before[0], "files_after": after[0],
        "bytes_before": before[1], "bytes_after": after[1],
    }))
    return 0


def cmd_query(args, spark: SparkSession) -> int:
    from realparse_spark.registry import all_queries

    queries = all_queries()
    if args.list:
        for name in sorted(queries):
            print(name)
        return 0
    if not args.name or args.name not in queries:
        print(f"unknown query {args.name!r}; use --list", file=sys.stderr)
        return 2
    if not args.sf_dir:
        print("--sf-dir is required to run a query", file=sys.stderr)
        return 2
    df = queries[args.name](spark, args.sf_dir)
    if args.explain:
        # the scale-audit view: pushed filters, broadcasts, shuffles
        print(df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"))
        return 0
    _print_df(df, args.limit)
    return 0


_COMMANDS = {
    "load-real": cmd_load_real,
    "load-web": cmd_load_web,
    "report": cmd_report,
    "open-log": cmd_open_log,
    "compact": cmd_compact,
    "query": cmd_query,
}


def main(argv: Sequence[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from realparse_spark.session import get_spark

        spark = get_spark("realparse-cli")
    return _COMMANDS[args.command](args, spark)


if __name__ == "__main__":
    sys.exit(main())
