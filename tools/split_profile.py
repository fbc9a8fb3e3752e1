#!/usr/bin/env python
"""Construction-vs-execution split per registry query (guide §1,
optimization r14): the bench's timed region is
``fn(spark, sf_dir).count()``, so a query's cost is construction
(Python + py4j expression building + Catalyst analysis) plus
execution (jobs).  This tool times the two halves separately, warm
(2nd lap), so the optimization effort lands where the time actually
is — driver chatter vs cluster compute.

    python tools/split_profile.py [--only a,b,c] [--top N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from ong_tsdb_spark import entry_queries  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--laps", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = bench.session_builder(cpus, "split-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    registry = entry_queries.queries()
    names = [n for n in args.only.split(",") if n] or list(bench.HEADLINE)
    out = {}
    for name in names:
        fn = registry[name]
        best_c = best_e = float("inf")
        # lap 0 is warmup; report best of the remaining laps
        for lap in range(args.laps + 1):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            if lap:
                best_c = min(best_c, t1 - t0)
                best_e = min(best_e, t2 - t1)
        bench.release_blocks(spark)
        out[name] = {"construct": round(best_c, 4), "execute": round(best_e, 4)}
        print(f"{name:32s} construct {best_c:7.3f}s  execute {best_e:7.3f}s",
              flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
