"""Benchmark worker: one workload, one seed, one process.

Started by ``run.py`` with the environment already pinned.  Generates the
inputs, runs the program's set-up, runs the closed loop for ``--seconds``,
checks every output, and writes a JSON result to ``--out``.

With ``--trace 1`` the loop alternates untraced and traced rounds; the
result then holds the per-layer metrics and the tracing overhead (traced
minus untraced median latency), and the spans go to ``--spans``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

# The corpus has the shape of the repository's sf0.01 fixture (500
# documents, 500 64-float embeddings).  A cron cycle's cost is per Spark job,
# not per line (a cycle of 300 lines takes as long as one of 1500), so the
# log sizes are small and the run budget sets the number of cycles.
SIZES = {
    "bench": {
        "cron_ingest": {"real_lines": 1000, "web_lines": 500, "boot_cycles": 1},
        "report_serving": {"real_lines": 1000, "web_lines": 500, "build_cycles": 24,
                           "customers": 60, "subset": 4, "max_requests": 400},
        "corpus_curation": {"docs": 500, "vectors": 500, "dim": 32},
    },
    "smoke": {
        "cron_ingest": {"real_lines": 200, "web_lines": 100, "boot_cycles": 1},
        "report_serving": {"real_lines": 200, "web_lines": 100, "build_cycles": 3,
                           "customers": 12, "subset": 3, "max_requests": 50},
        "corpus_curation": {"docs": 300, "vectors": 200, "dim": 32},
    },
}

# the layers whose spans carry Spark stage metrics, and the span layers that
# get a self time
SPARK_LAYERS = ("logs", "parse", "load", "report", "dedup", "corpus_quality",
                "text", "similarity", "pipeline_ops")
SPARK_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes", "wait_s")
SELF_LAYERS = ("op", "cache") + SPARK_LAYERS
LAYER_LISTS = (
    "logs.files_read", "logs.bytes_read", "logs.scan_amplification",
    "parse.busy_s", "parse.lines_per_core_s", "parse.quarantined_lines",
    "load.call_s", "load.spark_jobs", "load.rows_written", "load.bytes_written",
    "load.files_written", "fs.ops",
    "report.plan_s", "report.exec_s", "report.files_scanned", "report.bytes_scanned",
    "report.shuffle_bytes",
    "dedup.call_s", "dedup.planted_recall", "corpus_quality.call_s", "text.call_s",
    "similarity.call_s", "similarity.recall_at_k", "pipeline_ops.call_s",
)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the tail: the highest percentile
    with at least 10 samples beyond it, but never below p90 (nearest rank).
    From 100 samples on the two agree; below that no percentile at or
    above p90 has 10 samples beyond it, and p90 is reported."""
    xs = sorted(values)
    n = len(xs)
    k = max(n - 11, math.ceil(0.9 * n) - 1)
    return xs[k], 100.0 * (k + 1) / n, n


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, tracer, snap, session_s: float, traced: list[float],
                  untraced: list[float]) -> dict[str, float]:
    m: dict[str, float] = {"session.start_s": session_s}
    for key in LAYER_LISTS:
        m[key] = median_or_zero(wl.layer.get(key, []))
    m["cache.builds"] = snap.builds
    m["cache.hits"] = snap.hits
    m["cache.hit_ratio"] = snap.hits / snap.calls if snap.calls else 0.0
    m["cache.build_s"] = snap.build_s
    # per request, summed over the request's spans of each layer; then the
    # median over the requests in which the layer appears
    spark_per: dict[tuple[str, str], dict[int, float]] = {}
    self_per: dict[str, dict[int, float]] = {}
    selfs = tracer.self_times()
    for sp in tracer.spans:
        per = self_per.setdefault(sp.layer, {})
        per[sp.request] = per.get(sp.request, 0.0) + selfs[sp.id]
        for f in SPARK_FIELDS:
            if f in sp.spark:
                d = spark_per.setdefault((sp.layer, f), {})
                d[sp.request] = d.get(sp.request, 0.0) + sp.spark[f]
    for layer in SPARK_LAYERS:
        for f in SPARK_FIELDS:
            m[f"spark.{layer}.{f}"] = median_or_zero(list(spark_per.get((layer, f), {}).values()))
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = median_or_zero(list(self_per.get(layer, {}).values()))
    base = median_or_zero(untraced)
    m["trace.overhead_s"] = median_or_zero(traced) - base
    m["trace.overhead_ratio"] = m["trace.overhead_s"] / base if base else 0.0
    m["trace.spans"] = len(tracer.spans)
    return m


def run(args) -> dict:
    from pyspark.sql import SparkSession  # noqa: F401  (fail early without pyspark)

    from realparse_spark.session import get_spark
    from run import tree_cpu_s
    from tracing import SnapshotCounter, Tracer
    from workloads import CURATION_MIX, WORKLOADS, Ctx

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer(cores=cores)
    ctx = Ctx(None, tracer, args.seed, args.root, SIZES[args.size][args.workload], args.build)
    wl = WORKLOADS[args.workload](ctx)
    t_gen = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t_gen

    me = os.getpid()
    c0 = tree_cpu_s(me)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    ctx.spark = tracer.spark = spark
    snap = SnapshotCounter(tracer) if args.trace else None
    wl.setup()
    setup_wall_s = time.perf_counter() - t0
    setup_cpu_s = tree_cpu_s(me) - c0

    round_len = len(CURATION_MIX) if args.workload == "corpus_curation" else 1
    lat: list[float] = []
    cpu_s: list[float] = []
    traced_lat: list[float] = []
    items = 0
    failures: list[str] = []
    i = 0
    deadline = time.perf_counter() + args.seconds
    while True:
        op = wl.prepare(i)
        # trace mode alternates rounds so both halves see the same warm-up
        tracer.enabled = bool(args.trace) and (i // round_len) % 2 == 1
        tracer.request = i
        c = tree_cpu_s(me, work_only=True)
        t = time.perf_counter()
        try:
            out = op.run()
            dt = time.perf_counter() - t
            cpu = tree_cpu_s(me, work_only=True) - c
            err = op.check(out)
        except Exception:  # a failed call counts against failed_ops_ratio
            dt = time.perf_counter() - t
            cpu = tree_cpu_s(me, work_only=True) - c
            err = traceback.format_exc()
        (traced_lat if tracer.enabled else lat).append(dt)
        if not tracer.enabled:
            items += op.items
            cpu_s.append(cpu)
        if err:
            failures.append(f"op {i} ({op.label}): {err}")
        i += 1
        # whole rounds only; a traced run needs an untraced and a traced round
        if (i % round_len == 0 and time.perf_counter() >= deadline
                and (not args.trace or i >= 2 * round_len)):
            break
    tracer.enabled = False
    if args.trace:
        snap.restore()
        tracer.write(args.spans)

    value, pct, n = tail(lat)
    result = {
        "correct": not failures,
        "attempted": i,
        "failed": len(failures),
        "failures": failures[:5],
        "info": {
            "tail_percentile": pct,
            "samples": n,
            "op_cpu_s": [round(x, 3) for x in cpu_s],
            "setup_session_s": session_s,
            "generate_s": generate_s,
            "timed_s": time.perf_counter() - deadline + args.seconds,
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
            "cores": cores,
            "warehouse_build_s": getattr(wl, "build_s", None),
            # JIT compiler CPU of the whole run, left out of op_cpu_*
            "jit_cpu_s": tree_cpu_s(me) - tree_cpu_s(me, work_only=True),
        },
        "e2e": {
            "setup_s": setup_cpu_s,
            "setup_wall_s": setup_wall_s,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": value,
            "op_cpu_p50_s": statistics.median(cpu_s),
            "op_cpu_tail_s": tail(cpu_s)[0],
            "op_cpu_mean_s": sum(cpu_s) / len(cpu_s),
            "items_per_s": items / sum(lat),
            "stored_bytes_per_input_byte": wl.stored_ratio(),
        },
    }
    if args.trace:
        result["layers"] = layer_metrics(wl, tracer, snap, session_s, traced_lat, lat)
    spark.stop()
    return result


def build(args) -> None:
    """Build the shared report warehouse into ``--build`` (see
    ``workloads.build_report_warehouse``) and write its record."""
    from realparse_spark.session import get_spark
    from workloads import build_report_warehouse

    spark = get_spark("perfbench-build")
    try:
        record = build_report_warehouse(spark, args.build, SIZES[args.size]["report_serving"])
    finally:
        spark.stop()
    with open(os.path.join(args.build, "build.json"), "w") as fh:
        json.dump(record, fh)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--size", default="bench")
    p.add_argument("--root", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--spans", default="")
    p.add_argument("--build", default="")
    args = p.parse_args(argv)
    # the program under test lives in the checkout the benchmark runs from
    sys.path.insert(0, os.getcwd())
    try:
        import realparse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 3
    if args.workload == "build":
        build(args)
        return 0
    result = run(args)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
