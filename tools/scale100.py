#!/usr/bin/env python
"""100x upward-scale sweep over the FULL scale-family set.

The round-6 SCALE100 datapoint covered 14 families; the registry has
since grown to 50 scale families (graph, ledgers, packing/shard
layouts, PQ/IVF, curation).  This re-runs the whole set on a 100x
replica corpus (tools/gen_scale.py shape contracts: duplicate rate and
block size constant, ids offset/namespaced) so the 1000-executor
extrapolation rests on measured curves for EVERY family, not the r6
subset.

    python tools/gen_scale.py /root/testdata/sf0.1 /tmp/sf_scale100 100
    python tools/scale100.py [--corpus /tmp/sf_scale100] [--runs 2] \
        > SCALE100_rNN.json

Round-14 protocol change: **one child JVM per family.**  The r13 sweep
ran all 51 families in a single 16 GiB JVM — fine at runs=1, but at
runs=2 the accumulated old-gen churn OOMed the shared JVM on family #2
even though that family passes 3 isolated laps with 6 GiB of headroom
(BENCH.md round-14).  Per-family isolation is also measurement-grade:
each family's cold lap is a TRUE cold lap (no cross-family cache or
JIT inheritance), which is what exposed the r13 ``dedup_minhash_lsh``
warm>cold reading as shared-JVM pollution.  Session startup (~12 s) is
excluded from every cell.

Per family: cold (first run) and warm (best of ``--runs``) at 1x and
100x; plus the BPE trainer's 24-merge batched row (cold only — the
trainer is iterative, there is no warm rerun).  Prints the BENCH.md
table to stderr and ONE JSON line to stdout.  No drift adjudication —
this is a point-in-time curve, not a per-round gated artifact (the
gated sweep stays SCALE10).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _make_session():
    import bench

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = bench.session_builder(cpus, "scale100").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def child(family: str, sf_dir: str, corpus: str, runs: int) -> int:
    """Measure ONE family in this (fresh) JVM; one JSON line to stdout."""
    spark = _make_session()
    import bench
    from ong_tsdb_spark import entry_queries

    rec: dict[str, float] = {}
    if family == "bpe_train_batched":
        from ong_tsdb_spark.plans import bpe

        for tag, d in (("x1", sf_dir), ("x100", corpus)):
            docs = entry_queries.load(spark, d, "documents")
            t0 = time.perf_counter()
            bpe.train_bpe_merges(docs, n_merges=24, batch=16)
            rec[f"{tag}_cold"] = round(time.perf_counter() - t0, 4)
            bench.release_blocks(spark)
        rec["ratio_cold"] = round(rec["x100_cold"] / rec["x1_cold"], 2)
        rec["rounds"] = float(bpe.LAST_TRAIN_ROUNDS)
    else:
        fn = entry_queries.queries()[family]
        for tag, d in (("x1", sf_dir), ("x100", corpus)):
            t0 = time.perf_counter()
            fn(spark, d).count()
            rec[f"{tag}_cold"] = round(time.perf_counter() - t0, 4)
            best = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, d).count()
                best = min(best, time.perf_counter() - t0)
            rec[f"{tag}_warm"] = round(best, 4)
            bench.release_blocks(spark)
        rec["ratio_warm"] = round(rec["x100_warm"] / rec["x1_warm"], 2)
    print(json.dumps({family: rec}), flush=True)
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", default="/tmp/sf_scale100")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2,
                    help="warm laps per cell (the r13 single-lap run "
                         "produced a warm>cold anomaly for "
                         "dedup_minhash_lsh; >=2 is measurement-grade)")
    ap.add_argument("--only", nargs="*", default=None,
                    help="subset of families (default: all + bpe row)")
    ap.add_argument("--child", metavar="FAMILY", default=None,
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child is not None:
        return child(args.child, args.sf_dir, args.corpus, args.runs)

    if not os.path.isdir(args.corpus):
        raise SystemExit(f"{args.corpus} missing — run tools/gen_scale.py first")

    import bench  # no session needed in the parent

    families = list(bench.SCALE_FAMILIES) + ["bpe_train_batched"]
    if args.only:
        families = [f for f in families if f in set(args.only)]

    out: dict[str, dict[str, float]] = {}
    for name in families:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--child", name, "--sf-dir", args.sf_dir,
             "--corpus", args.corpus, "--runs", str(args.runs)],
            capture_output=True, text=True, cwd=REPO,
        )
        if proc.returncode != 0:
            print(f"[scale100] {name}: CHILD FAILED rc={proc.returncode}\n"
                  f"{proc.stderr[-2000:]}", file=sys.stderr, flush=True)
            out[name] = {"error": float(proc.returncode)}
            continue
        line = proc.stdout.strip().splitlines()[-1]
        rec = json.loads(line)[name]
        out[name] = rec
        if "ratio_warm" in rec:
            print(f"[scale100] {name}: 1x {rec['x1_warm']:.2f}s "
                  f"100x {rec['x100_warm']:.2f}s "
                  f"(warm ratio {rec['ratio_warm']}x)",
                  file=sys.stderr, flush=True)
        else:
            print(f"[scale100] {name}: 1x {rec['x1_cold']:.2f}s "
                  f"100x {rec['x100_cold']:.2f}s "
                  f"(cold ratio {rec['ratio_cold']}x)",
                  file=sys.stderr, flush=True)

    print("\n| query | 1x warm | 100x warm | ratio |", file=sys.stderr)
    print("|---|---|---|---|", file=sys.stderr)
    for name, r in sorted(out.items(),
                          key=lambda kv: -kv[1].get("ratio_warm", 0)):
        if "ratio_warm" in r:
            print(f"| {name} | {r['x1_warm']:.2f} | {r['x100_warm']:.2f} "
                  f"| {r['ratio_warm']}x |", file=sys.stderr)
    print(json.dumps({
        "metric": "scale100_families",
        "runs": args.runs,
        "isolation": "one-jvm-per-family",
        "value": round(sum(r.get("x100_warm", r.get("x100_cold", 0.0))
                           for r in out.values()), 4),
        "unit": "sec",
        "queries": out,
        "sf": "100x-" + args.sf_dir.rstrip("/").split("sf")[-1],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
