"""Query profiler: time named queries and dump plans.

Usage:
  python tools/profile_queries.py q1 q2 ...        # time only (3 reps)
  python tools/profile_queries.py --plans-to plans/rNN --suffix before q1 ...
  python tools/profile_queries.py --all            # whole suite, 1 rep

Times the same action as bench.py (plan build -> collect) at
$SPARK_GRAFT_SF_DIR (default sf0.1), after the same whole-suite input
warm-up, and optionally writes .explain("formatted") per query to
<plans-to>/<name>_<suffix>.txt (the judge-facing before/after evidence).
Each record also carries the session's block storage after the query's
runs (`rdds`: persistent RDDs with stored blocks, `block_mb`: their
memory + disk size), so a query that leaves checkpoints behind shows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dask_distributed_vanilla_spark.catalog import TABLES, load_table
from dask_distributed_vanilla_spark.plans.explainer import formatted_plan
from dask_distributed_vanilla_spark.plans.registry import all_queries
from dask_distributed_vanilla_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-to", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    queries = all_queries()
    names = sorted(queries) if args.all else args.names
    reps = 1 if args.all else args.reps
    jsc = spark.sparkContext._jsc.sc()
    out: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.collect()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = runs
        if args.plans_to:
            dest = Path(args.plans_to)
            dest.mkdir(parents=True, exist_ok=True)
            (dest / f"{name}_{args.suffix}.txt").write_text(formatted_plan(df))
        infos = jsc.getRDDStorageInfo()
        block_mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        print(
            json.dumps({name: runs, "best": min(runs), "rdds": len(infos), "block_mb": round(block_mb, 1)}),
            flush=True,
        )
    print(json.dumps({"total_best": round(sum(min(r) for r in out.values()), 3)}))


if __name__ == "__main__":
    main()
