"""The three workloads: cron ingest, report serving, corpus curation.

Each workload has three phases, driven by ``worker.py``:

* ``generate()`` writes the seeded inputs and computes expected answers
  (untimed, no Spark);
* ``setup()`` runs the program's own set-up (timed as ``setup_s``);
* ``prepare(i)`` readies the i-th operation's inputs (untimed) and returns an
  ``Op`` whose ``run()`` is the timed call and whose ``check()`` compares
  the output with the expected answer.

Every operation is a closed loop with one client: the next call starts when
the previous one returned.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections import Counter, defaultdict
from collections.abc import Callable
from dataclasses import dataclass

import gen
from tracing import CallCounter, Tracer

from pyspark.sql import functions as F


@dataclass
class Op:
    label: str
    run: Callable[[], object]
    check: Callable[[object], str | None]  # None when correct, else why not
    items: int


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    root: str   # private run directory
    size: dict
    build: str  # the shared build (see ``build_report_warehouse``)


def parquet_files(path: str) -> tuple[int, int]:
    """(count, bytes) of parquet data files under ``path``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _counts_check(got: dict, want: dict, what: str) -> str | None:
    return None if got == want else f"{what} counts {got} != expected {want}"


# ---------------------------------------------------------------------------
# cron ingest
# ---------------------------------------------------------------------------


class CronIngest:
    """One new rotated file per family each cycle, loaded with ``latest=2``
    into one warehouse that grows across the run."""

    name = "cron_ingest"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.log_dir = os.path.join(ctx.root, "logs")
        self.warehouse = os.path.join(ctx.root, "warehouse")
        self.logs = gen.LogStream(ctx.seed, self.log_dir,
                                  ctx.size["real_lines"], ctx.size["web_lines"])
        self.layer: dict[str, list[float]] = {}

    def generate(self) -> None:
        self.boot = [self.logs.next_cycle() for _ in range(self.ctx.size["boot_cycles"])]

    def _load(self, expect: gen.CycleExpect) -> str | None:
        from realparse_spark.operators.load import load_style5, load_weblog

        spark = self.ctx.spark
        real = load_style5(spark, self.log_dir, self.warehouse, latest=2)
        web = load_weblog(spark, self.log_dir, self.warehouse, latest=2)
        return (_counts_check(real, expect.real, "load_style5")
                or _counts_check(web, expect.web, "load_weblog"))

    def setup(self) -> None:
        """The cron job's first runs: load the backlog cycle by cycle (the
        loader only ever reads the two newest files)."""
        self.log_bytes = 0
        # rewrite the backlog one cycle at a time: the generator already
        # produced every file, so hide the later ones until their turn
        pending = sorted(os.listdir(self.log_dir), key=lambda n: int(n.rsplit(".", 1)[1]))
        stash = os.path.join(self.ctx.root, "logs-pending")
        os.makedirs(stash, exist_ok=True)
        for name in pending:
            os.rename(os.path.join(self.log_dir, name), os.path.join(stash, name))
        for c, expect in enumerate(self.boot, start=1):
            for name in (f"rmaccess.log.{c}", f"log.{c}"):
                os.rename(os.path.join(stash, name), os.path.join(self.log_dir, name))
            err = self._load(expect)
            if err:
                raise RuntimeError(f"set-up load of cycle {c}: {err}")
            self.log_bytes += expect.new_log_bytes

    def prepare(self, i: int) -> Op:
        expect = self.logs.next_cycle()
        tr = self.ctx.tracer

        def run():
            if not tr.enabled:
                return self._load(expect)
            return self._traced_cycle(expect)

        def check(err):
            self.log_bytes += expect.new_log_bytes
            return err

        return Op("cycle", run, check, expect.new_lines)

    def _traced_cycle(self, expect: gen.CycleExpect) -> str | None:
        from realparse_spark.fs import LOCAL
        from realparse_spark.operators.load import load_style5, load_weblog
        from realparse_spark.operators.parse import parse_style5, parse_weblog
        from realparse_spark.sources.logs import latest_files, read_log_lines

        spark, tr = self.ctx.spark, self.ctx.tracer
        rec = self.layer
        add = lambda k, v: rec.setdefault(k, []).append(float(v))  # noqa: E731

        with tr.span("cycle", "op"):
            # forced probes: the lazy source and parse layers do their work
            # inside the loads; probing them separately makes it timeable
            files = [f for p in ("rmaccess", "log.") for f in latest_files(self.log_dir, p, 2)]
            add("logs.files_read", len(files))
            nbytes = sum(os.path.getsize(f) for f in files)
            add("logs.bytes_read", nbytes)
            add("logs.scan_amplification", nbytes / expect.new_log_bytes)
            lines = 0
            with tr.span("read_log_lines", "logs", spark_group=True) as sp:
                for prefix in ("rmaccess", "log."):
                    df = read_log_lines(spark, self.log_dir, prefix, 2)
                    lines += df.agg(F.count(F.lit(1))).collect()[0][0]
            with tr.span("parse", "parse", spark_group=True) as sp:
                for prefix, parse in (("rmaccess", parse_style5), ("log.", parse_weblog)):
                    parsed = parse(read_log_lines(spark, self.log_dir, prefix, 2))
                    parsed.agg(F.sum(F.hash(*parsed.columns))).collect()
            add("parse.busy_s", sp.end - sp.start)
            run_s = sp.spark.get("executor_run_s", 0.0)
            add("parse.lines_per_core_s", lines / run_s if run_s else 0.0)

            before = parquet_files(self.warehouse)
            fs = CallCounter(LOCAL, ("exists", "is_dir", "list_dir", "makedirs", "rename",
                                     "rmtree", "data_files", "read_text", "write_text"))
            try:
                with tr.span("load", "load", spark_group=True) as sp:
                    real = load_style5(spark, self.log_dir, self.warehouse, latest=2)
                    web = load_weblog(spark, self.log_dir, self.warehouse, latest=2)
            finally:
                fs.restore()
            after = parquet_files(self.warehouse)
        add("fs.ops", fs.count)
        add("load.call_s", sp.end - sp.start)
        add("load.spark_jobs", sp.spark.get("jobs", 0))
        add("load.rows_written", sum(v for k, v in real.items() if k != "quarantine")
            + sum(v for k, v in web.items() if k != "quarantine"))
        add("parse.quarantined_lines", real.get("quarantine", 0) + web.get("quarantine", 0))
        add("load.files_written", after[0] - before[0])
        add("load.bytes_written", after[1] - before[1])
        return (_counts_check(real, expect.real, "load_style5")
                or _counts_check(web, expect.web, "load_weblog"))

    def stored_ratio(self) -> float:
        return parquet_files(self.warehouse)[1] / self.log_bytes


# ---------------------------------------------------------------------------
# report serving
# ---------------------------------------------------------------------------


BUILD_SEED = 0  # the shared warehouse is the same for every run seed


def build_report_warehouse(spark, out: str, size: dict) -> dict:
    """Build the ``report_serving`` warehouse in ``out``: ``build_cycles``
    cron cycles, each loaded through the program's own load path
    (``load_style5`` + ``load_weblog``, ``latest=2``) and checked.  Returns
    the build record: build time and parquet files written per cycle."""
    from realparse_spark.operators.load import load_style5, load_weblog

    log_dir = os.path.join(out, "logs")
    warehouse = os.path.join(out, "warehouse")
    logs = gen.LogStream(BUILD_SEED, log_dir, size["real_lines"], size["web_lines"])
    files_written = []
    t0 = time.perf_counter()
    for c in range(size["build_cycles"]):
        expect = logs.next_cycle()
        before = parquet_files(warehouse)[0]
        real = load_style5(spark, log_dir, warehouse, latest=2)
        web = load_weblog(spark, log_dir, warehouse, latest=2)
        err = (_counts_check(real, expect.real, "load_style5")
               or _counts_check(web, expect.web, "load_weblog"))
        if err:
            raise RuntimeError(f"build cycle {c + 1}: {err}")
        files_written.append(parquet_files(warehouse)[0] - before)
    shutil.rmtree(log_dir)
    return {"build_s": time.perf_counter() - t0, "files_written": files_written}


class ReportServing:
    """Per-customer reports over a warehouse that the program's own load path
    built from many cron cycles.

    The warehouse is built once per checkout (``build_report_warehouse``,
    from a fixed seed) and only read here: dozens of load cycles per run
    would not fit the run.  The run's seed picks the reporting dims and the
    request subsets."""

    name = "report_serving"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.warehouse = os.path.join(ctx.build, "warehouse")
        self.layer: dict[str, list[float]] = {}

    def generate(self) -> None:
        size = self.ctx.size
        # replay the build's log stream for the expected answers
        logs = gen.LogStream(BUILD_SEED, os.path.join(self.ctx.root, "logs"),
                             size["real_lines"], size["web_lines"])
        self.log_bytes = sum(logs.next_cycle().new_log_bytes
                             for _ in range(size["build_cycles"]))
        self.by_name = logs.by_name
        self.fact_rows = logs.loaded_rows
        self.dims = gen.ReportDims.generate(self.ctx.seed, size["customers"])
        self.dim_paths = self.dims.write(os.path.join(self.ctx.root, "dims"))
        self.subsets = self.dims.request_subsets(self.ctx.seed, size["max_requests"],
                                                 size["subset"])
        with open(os.path.join(self.ctx.build, "build.json")) as fh:
            build = json.load(fh)
        self.build_s = build["build_s"]
        self.layer["load.files_written"] = [float(n) for n in build["files_written"]]

    def setup(self) -> None:
        """Serve one request so the timed loop starts with the report plan
        compiled."""
        op = self.prepare(-1)
        err = op.check(op.run())
        if err:
            raise RuntimeError(f"set-up report: {err}")

    def prepare(self, i: int) -> Op:
        from realparse_spark.operators.load import read_warehouse_table
        from realparse_spark.operators.log_report import pull_report

        subset = self.subsets[i % len(self.subsets)]
        want = self.dims.report_rows(self.by_name, subset)
        spark, tr = self.ctx.spark, self.ctx.tracer
        paths = self.dim_paths

        def run():
            with tr.span("report_request", "op"):
                with tr.span("pull_report.plan", "report", spark_group=True) as plan:
                    customers = spark.read.parquet(paths["customers"]).filter(
                        F.col("id").isin(list(subset)))
                    df = pull_report(
                        read_warehouse_table(spark, self.warehouse, "access"),
                        read_warehouse_table(spark, self.warehouse, "file"),
                        customers,
                        spark.read.parquet(paths["project"]),
                        spark.read.parquet(paths["project_file"]),
                    )
                    if tr.enabled:
                        df._jdf.queryExecution().executedPlan()
                with tr.span("pull_report.collect", "report", spark_group=True) as ex:
                    rows = {tuple(r) for r in df.collect()}
            if tr.enabled:
                self._record(plan, ex)
            return rows

        def check(rows):
            if rows == want:
                return None
            return (f"report rows differ: {len(rows - want)} unexpected, "
                    f"{len(want - rows)} missing")

        return Op("report", run, check, self.fact_rows)

    def _record(self, plan, ex) -> None:
        add = lambda k, v: self.layer.setdefault(k, []).append(float(v))  # noqa: E731
        add("report.plan_s", plan.end - plan.start)
        add("report.exec_s", ex.end - ex.start)
        # the report has no predicate a scan can prune on: both fact tables
        # are read whole
        add("report.files_scanned", sum(
            parquet_files(os.path.join(self.warehouse, t))[0] for t in ("access", "file")))
        add("report.bytes_scanned", ex.spark.get("input_bytes", 0.0))
        add("report.shuffle_bytes", ex.spark.get("shuffle_write_bytes", 0.0)
            + plan.spark.get("shuffle_write_bytes", 0.0))

    def stored_ratio(self) -> float:
        return parquet_files(self.warehouse)[1] / self.log_bytes


# ---------------------------------------------------------------------------
# corpus curation
# ---------------------------------------------------------------------------

# (registry query, layer, input table).  Oracled queries are checked against
# DuckDB; the two sketch-based ones against planted truth.
CURATION_MIX = (
    ("dedup_exact", "dedup", "documents"),
    ("quality_filter_report", "corpus_quality", "documents"),
    ("dedup_minhash_e2e", "dedup", "documents"),
    ("text_quality", "text", "documents"),
    ("sim_ann_lsh_batch", "similarity", "embeddings"),
    ("curation_pipeline_e2e", "pipeline_ops", "documents"),
)
MINHASH_RECALL_FLOOR = 0.9
MINHASH_PRECISION_FLOOR = 0.95
ANN_RECALL_FLOOR = 0.9
ANN_QUERIES, ANN_K = 20, 5  # sim_ann_lsh_batch probes vec_id < 20, top 5


def _canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        if hasattr(v, "as_tuple"):  # Decimal
            return f"{float(v):.9g}"
        return repr(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


class CorpusCuration:
    """A fixed mix of curation queries over one seeded corpus."""

    name = "corpus_curation"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.root, "corpus")
        self.layer: dict[str, list[float]] = {}

    def generate(self) -> None:
        import duckdb

        from realparse_spark.registry import all_oracles, all_queries

        size = self.ctx.size
        self.truth = gen.write_corpus(self.ctx.seed, self.data_dir, size["docs"], size["vectors"],
                                       size["dim"])
        self.queries = all_queries()
        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for name, _layer, _table in CURATION_MIX:
                if name in oracles:
                    res = con.execute(oracles[name])
                    cols = [d[0] for d in res.description]
                    self.expected[name] = (sorted(cols), _canon(res.fetchall(), cols))
        finally:
            con.close()
        self.rows_in = {"documents": self.truth.docs, "embeddings": size["vectors"]}
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in ("documents", "embeddings"))

    def setup(self) -> None:
        """Cold snapshot pass: every query once, paying the index builds."""
        for i in range(len(CURATION_MIX)):
            op = self.prepare(i)
            err = op.check(op.run())
            if err:
                raise RuntimeError(f"set-up pass {op.label}: {err}")

    def prepare(self, i: int) -> Op:
        name, layer, table = CURATION_MIX[i % len(CURATION_MIX)]
        spark, tr = self.ctx.spark, self.ctx.tracer
        fn = self.queries[name]

        def run():
            with tr.span(name, layer, spark_group=True) as sp:
                df = fn(spark, self.data_dir)
                rows = df.collect()
            if tr.enabled:
                self.layer.setdefault(f"{layer}.call_s", []).append(sp.end - sp.start)
            return df.columns, rows

        def check(out):
            cols, rows = out
            if name in self.expected:
                want_cols, want_rows = self.expected[name]
                if sorted(cols) != want_cols:
                    return f"{name}: columns {sorted(cols)} != oracle {want_cols}"
                if _canon(rows, cols) != want_rows:
                    return f"{name}: rows differ from the DuckDB oracle"
                return None
            if name == "dedup_minhash_e2e":
                return self._check_minhash(rows)
            if name == "sim_ann_lsh_batch":
                return self._check_ann(rows)
            return f"{name}: no check"

        return Op(name, run, check, self.rows_in[table])

    def _check_minhash(self, rows) -> str | None:
        if len(rows) != self.truth.docs:
            return f"dedup_minhash_e2e: {len(rows)} rows for {self.truth.docs} docs"
        cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
        pairs = self.truth.minhash_pairs
        recall = sum(cluster[a] == cluster[b] for a, b in pairs) / len(pairs)
        self.layer.setdefault("dedup.planted_recall", []).append(recall)
        if recall < MINHASH_RECALL_FLOOR:
            return f"dedup_minhash_e2e: planted recall {recall:.3f} < {MINHASH_RECALL_FLOOR}"
        # pairwise precision: of the doc pairs put in one cluster, the share
        # from one planted family (catches over-merging, which recall cannot)
        members: dict[int, list[int]] = defaultdict(list)
        for doc, cid in cluster.items():
            members[cid].append(self.truth.dup_family[doc])
        merged = same = 0
        for fams in members.values():
            merged += len(fams) * (len(fams) - 1) // 2
            same += sum(c * (c - 1) // 2 for c in Counter(fams).values())
        precision = same / merged if merged else 1.0
        if precision < MINHASH_PRECISION_FLOOR:
            return (f"dedup_minhash_e2e: planted precision {precision:.3f} "
                    f"< {MINHASH_PRECISION_FLOOR}")
        return None

    def _check_ann(self, rows) -> str | None:
        """Planted recall@k: the share of the k neighbour slots of each probe
        filled by a vector of the probe's own planted cluster."""
        labels = self.truth.emb_labels
        hit = sum(1 for r in rows if labels[r["vec_id"]] == labels[r["query_id"]])
        recall = hit / (ANN_QUERIES * ANN_K)
        self.layer.setdefault("similarity.recall_at_k", []).append(recall)
        if recall < ANN_RECALL_FLOOR:
            return f"sim_ann_lsh_batch: planted recall@{ANN_K} {recall:.3f} < {ANN_RECALL_FLOOR}"
        return None

    def stored_ratio(self) -> float:
        """Snapshot bytes the cache installed per byte of corpus parquet."""
        import tempfile

        from realparse_spark.cache import SNAPSHOT_PREFIXES

        tmp = tempfile.gettempdir()
        total = 0
        for name in os.listdir(tmp):
            if name.startswith(SNAPSHOT_PREFIXES) and ".tmp-" not in name:
                total += parquet_files(os.path.join(tmp, name))[1]
        return total / self.input_bytes


WORKLOADS = {w.name: w for w in (CronIngest, ReportServing, CorpusCuration)}
