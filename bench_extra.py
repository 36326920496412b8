"""Per-query isolation harness for the r6 optimization round (guide §1).

NOT part of the driver contract — ``bench.py`` stays frozen; this file exists
so individual queries can be re-timed (best-of-N, clearCache between runs,
same ``.count()`` methodology as bench.py) and their ``explain("formatted")``
plans captured to ``plans/r06/`` without paying a full bench sweep per edit.

Usage:
  python bench_extra.py q1 q2 ...           # time the named queries
  python bench_extra.py --reps 3 q1         # best-of-3
  python bench_extra.py --explain before q1 # also write plans/r06/q1_before.txt
  python bench_extra.py --probe author_skew # time bench.py's cz probe
  python bench_extra.py --all               # every BENCH_QUERIES entry
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None, metavar="TAG",
                    help="write plans/r06/<q>_<TAG>.txt")
    ap.add_argument("--probe", default=None, choices=["author_skew", "pair_skew"])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--noop", action="store_true",
                    help="time a noop-sink write instead of count()")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench as benchmod
    import __spark_entry__ as entrymod
    from pmcanalysis_spark.session import get_spark

    # cores from $SPARK_GRAFT_CPUS, else the machine's CPU count
    spark = get_spark(app_name="bench-extra")
    qs = entrymod.queries()
    # identical warmup to bench.py
    qs["kg_mentions_docfreq"](spark, sf_dir).count()

    names = benchmod.BENCH_QUERIES if args.all else args.names
    out: dict[str, dict] = {}
    for name in names:
        if args.explain:
            os.makedirs("plans/r06", exist_ok=True)
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(f"plans/r06/{name}_{args.explain}.txt", "w") as f:
                f.write(plan)
        walls = []
        for _ in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            if args.noop:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            else:
                qs[name](spark, sf_dir).count()
            walls.append(round(time.perf_counter() - t0, 3))
        out[name] = {
            "min": min(walls),
            "median": round(statistics.median(walls), 3),
            "walls": walls,
        }

    if args.probe == "author_skew":
        spark.catalog.clearCache()
        walls = []
        for _ in range(args.reps):
            spark.catalog.clearCache()
            walls.append(round(benchmod._author_skew_probe(spark), 3))
        out["cz_author_skew"] = {"min": min(walls), "walls": walls}
    if args.probe == "pair_skew":
        spark.catalog.clearCache()
        out["pair_skew"] = benchmod._pair_counts_skew_probe(spark)

    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
