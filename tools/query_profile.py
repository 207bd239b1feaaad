"""Per-query optimization profiler (measure first, then change).

For each headline query (or ``--only name,name``):
  - time DataFrame construction (plan build, includes parquet footer reads)
  - save ``.explain('formatted')`` to ``<out>/<name>_<tag>.txt``
  - count Exchange / BroadcastExchange / join / *EvalPython nodes
  - time N runs of ``.count()`` (the bench methodology) and of the noop sink
    (computes every column, isolating computation from action pruning),
    cache cleared between runs
and write the summary to ``<out>/profile_<tag>.json``.

Usage (from the repo root):
    python tools/query_profile.py --out plans/<round> [--tag before|after]
        [--only a,b] [--runs 3] [--sf-dir DIR]

``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``; the warm-up runs every
query once on the ``sf0.001`` directory next to it (as bench.py does).
Cores come from ``$SPARK_GRAFT_CPUS`` (default 32).
"""
from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NODES = (
    "BroadcastExchange", "SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "BatchEvalPython", "ArrowEvalPython",
    "CartesianProduct",
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True,
                    help="output directory, e.g. plans/r15")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir or $SPARK_GRAFT_SF_DIR is required")
    out_dir = os.path.join(ROOT, args.out)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, ROOT)
    import bench
    from clickhouse_sinker_spark.plans.queries import QUERIES

    names = args.only.split(",") if args.only else list(bench.HEADLINE)
    os.makedirs(out_dir, exist_ok=True)
    warm = os.path.join(os.path.dirname(os.path.abspath(args.sf_dir)),
                        "sf0.001")
    for n in names:
        QUERIES[n](spark, warm).count()

    out = {}
    for n in names:
        spark.sparkContext.setJobDescription(f"profile:{n}")
        t0 = time.monotonic()
        df = QUERIES[n](spark, args.sf_dir)
        t_build = time.monotonic() - t0
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{n}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        nodes = {"Exchange": len(re.findall(r"\bExchange\b", plan))}
        nodes.update({k: plan.count(k) for k in NODES})
        counts, noops = [], []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            QUERIES[n](spark, args.sf_dir).count()
            counts.append(round(time.monotonic() - t0, 3))
        for _ in range(args.runs):
            spark.catalog.clearCache()
            df2 = QUERIES[n](spark, args.sf_dir)
            t0 = time.monotonic()
            df2.write.format("noop").mode("overwrite").save()
            noops.append(round(time.monotonic() - t0, 3))
        out[n] = {
            "build_s": round(t_build, 3),
            "count_runs": counts,
            "count_min": min(counts),
            "noop_runs": noops,
            "noop_min": min(noops),
            "nodes": nodes,
        }
        print(json.dumps({n: out[n]}), flush=True)
    with open(os.path.join(out_dir, f"profile_{args.tag}.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("TOTAL count_min:", round(sum(v["count_min"] for v in out.values()), 3))
    print("TOTAL noop_min:", round(sum(v["noop_min"] for v in out.values()), 3))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
