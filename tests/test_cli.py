"""CLI surface: the reference's cron scripts as subcommands — each a thin
shell over the already-tested library functions (cli.py)."""

from __future__ import annotations

import json
import os

from realparse_spark.cli import main


def _write_lines(spark, df, path: str) -> None:
    lines = [r.value for r in df.collect()]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_cli_load_report_roundtrip(spark, sf_dir, tmp_path, capsys):
    """load-real then report: the real_parse.pl -> pull_report.pl cron
    sequence through the CLI, on a synthesized style-5 corpus."""
    from pyspark.sql import functions as F

    from realparse_spark.operators.parse_queries import synth_style5
    from realparse_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").limit(50)
    logs = tmp_path / "logs"
    logs.mkdir()
    _write_lines(spark, synth_style5(events), str(logs / "rmaccess.log.20021011"))

    wh = str(tmp_path / "wh")
    rc = main(
        ["load-real", "--log-dir", str(logs), "--warehouse", wh], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0
    counts = json.loads(out.strip().splitlines()[-1])
    assert counts["access"] == 50

    # dims: one hosted customer whose project matches every file
    (tmp_path / "dims").mkdir()
    cust = str(tmp_path / "dims" / "customers")
    proj = str(tmp_path / "dims" / "project")
    pf = str(tmp_path / "dims" / "project_file")
    spark.createDataFrame(
        [(1, "Acme", "Yes")], "id long, company_name string, hosting string"
    ).write.parquet(cust)
    spark.createDataFrame([(7, 1)], "project_id long, customer_id long").write.parquet(
        proj
    )
    spark.createDataFrame(
        [(7, "%")], "project_id long, pattern string"
    ).write.parquet(pf)

    rc = main(
        ["report", "--warehouse", wh, "--customers", cust,
         "--project", proj, "--project-file", pf],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "Acme" in out and "views=" in out


def test_cli_open_log_prints_fields(spark, sf_dir, tmp_path, capsys):
    from realparse_spark.operators.parse_queries import synth_style5
    from realparse_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").limit(5)
    f = tmp_path / "rmaccess.log.1"
    _write_lines(spark, synth_style5(events), str(f))
    rc = main(["open-log", "--file", str(f), "--parser", "style5"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    header = out.splitlines()[0].split("\t")
    assert "client_ip_address" in header
    assert len(out.splitlines()) == 6  # header + 5 rows


def test_cli_query_list_and_run(spark, sf_dir, capsys):
    rc = main(["query", "--list"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "customer_report" in out.splitlines()

    rc = main(
        ["query", "--name", "pricing_summary", "--sf-dir", sf_dir], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert out.splitlines()[0].startswith("l_returnflag")

    rc = main(["query", "--name", "nope", "--sf-dir", sf_dir], spark=spark)
    assert rc == 2

    rc = main(
        ["query", "--name", "pricing_summary", "--sf-dir", sf_dir, "--explain"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out and "Scan parquet" in out


def test_cli_load_web_and_rerun(spark, sf_dir, tmp_path, capsys):
    """The web_parse.pl analog and two cron runs through the CLI: load-web
    filters to .wma/.wmv lines; two load-real invocations on one warehouse
    load each line once."""
    from realparse_spark.operators.parse_queries import synth_style5, synth_weblog
    from realparse_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").limit(30)

    weblogs = tmp_path / "weblogs"
    weblogs.mkdir()
    _write_lines(spark, synth_weblog(events), str(weblogs / "log.20021011"))
    rc = main(
        ["load-web", "--log-dir", str(weblogs), "--warehouse",
         str(tmp_path / "whw")],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    counts = json.loads(out.strip().splitlines()[-1])
    assert 0 < counts["access"] <= 30  # .wma/.wmv filter applied

    logs = tmp_path / "rlogs"
    logs.mkdir()
    _write_lines(spark, synth_style5(events), str(logs / "rmaccess.log.1"))
    args = ["load-real", "--log-dir", str(logs), "--warehouse", str(tmp_path / "whr")]
    rc = main(args, spark=spark)
    n1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["access"]
    assert rc == 0 and n1 == 30
    rc = main(args, spark=spark)  # re-run: the watermark drops every loaded line
    n2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["access"]
    assert rc == 0 and n2 == 0


def test_cli_compact(spark, sf_dir, tmp_path, capsys):
    """The maintenance subcommand: many small files in, fewer out, bytes
    preserved within parquet-overhead noise, rows identical."""
    from realparse_spark.sources.tables import load_table

    p = str(tmp_path / "frag")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(16).write.parquet(p)
    n_rows = spark.read.parquet(p).count()
    rc = main(["compact", "--path", p, "--target-mb", "128"], spark=spark)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["files_after"] < out["files_before"]
    assert spark.read.parquet(p).count() == n_rows


def test_cli_load_real_f3_gate(spark, tmp_path, capsys):
    """A config whose LoggingStyle is not 5 must abort the load — the
    reference's whole-file gate (real_parse.pl:58,186-188)."""
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "rmaccess.log.1").write_text("x\n")
    cfg = tmp_path / "rmserver.cfg"
    cfg.write_text('<Var LoggingStyle="2"/>\n<Var StatsMask="7"/>\n')
    rc = main(
        ["load-real", "--log-dir", str(logs), "--warehouse",
         str(tmp_path / "wh"), "--config", str(cfg)],
        spark=spark,
    )
    assert rc == 1
    assert not os.path.exists(str(tmp_path / "wh"))
