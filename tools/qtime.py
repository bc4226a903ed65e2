"""Per-query timing + plan capture for optimization work.

Usage: python tools/qtime.py <query> [<query> ...] [--reps N] [--plan DIR]

Times each named query, materialized as a max(hash(*cols)) collect so no
column is pruned away, after one warmup execution; prints min/median of
N reps, and optionally writes `.explain('formatted')` output to
DIR/<query>.txt.  For the cold run and each rep it also prints the
classes whole-stage codegen compiled and the seconds Janino spent on them
(Spark's `CodegenMetrics` and `CodeGenerator.compileTime`), so a query
that recompiles on every call shows without a profiler.  Uses
$SPARK_GRAFT_SF_DIR (default sf0.1) and the program's own session factory
(`session.get_spark`).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    plan_dir = None
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--plan":
            plan_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from realparse_spark.registry import all_queries
    from realparse_spark.session import get_spark

    spark = get_spark("qtime")
    queries = all_queries()

    def materialize(df) -> None:
        df.select(F.max(F.hash(*df.columns)).alias("h")).collect()

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def timed(fn) -> tuple[float, int, float]:
        """(wall s, classes compiled, compile s) of one materialized call."""
        n0, c0, t0 = compiles.getCount(), generator.compileTime(), time.perf_counter()
        materialize(fn(spark, sf_dir))
        return (time.perf_counter() - t0, compiles.getCount() - n0,
                (generator.compileTime() - c0) / 1e9)

    # table warmup (footer reads / classloading) before the first timing
    from realparse_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()

    for name in names:
        fn = queries[name]
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        spark.sparkContext.setJobDescription(f"qtime:{name}:warmup")
        cold, cold_n, cold_s = timed(fn)
        runs = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"qtime:{name}:{r}")
            runs.append(timed(fn))
        walls = [w for w, _, _ in runs]
        print(
            f"{name}: cold={cold:.3f} min={min(walls):.3f} "
            f"med={statistics.median(walls):.3f} reps={reps} "
            f"compiles cold={cold_n} reps={[n for _, n, _ in runs]} "
            f"compile_s cold={cold_s:.3f} reps={[round(c, 3) for _, _, c in runs]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
