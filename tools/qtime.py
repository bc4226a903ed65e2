"""Per-query timing + plan capture for optimization work.

Usage: python tools/qtime.py <query> [<query> ...] [--reps N] [--plan DIR]

Times each named query, materialized as a max(hash(*cols)) collect so no
column is pruned away, after one warmup execution; prints min/median of
N reps, and optionally writes `.explain('formatted')` output to
DIR/<query>.txt.  Uses $SPARK_GRAFT_SF_DIR (default sf0.1) and the
program's own session factory (`session.get_spark`).
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
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        cold = time.perf_counter() - t0
        runs = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"qtime:{name}:{r}")
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        print(
            f"{name}: cold={cold:.3f} min={min(runs):.3f} "
            f"med={statistics.median(runs):.3f} reps={reps}",
            flush=True,
        )


if __name__ == "__main__":
    main()
