#!/usr/bin/env python
"""Optimization-round profiler (guide §1): for each registry query,
capture the formatted physical plan to plans/r14/<name>_<tag>.txt and
— with ``--run`` — execute it (warmup + best-of-N, same protocol as
bench.py) with the Spark UI enabled, then pull per-query job/stage
metrics from the REST API: job count, stage wall-times, task counts,
shuffle read/write bytes.  The numbers tell whether a query's time is
fixed per-job overhead (many tiny jobs), shuffle, or executor compute
— the decision §1.2 needs before touching any code.

    python tools/opt_profile.py --tag before --only emb_ann_recall ...
    python tools/opt_profile.py --tag before --plans-only
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

import bench  # noqa: E402
from ong_tsdb_spark import entry_queries  # noqa: E402

PLANS_DIR = os.path.join(
    REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15")
)


def build_session(cpus: str, ui: bool) -> SparkSession:
    """The bench session, plus the UI (and its job/stage retention)
    that the REST metrics below are read from."""
    return (
        bench.session_builder(cpus, "opt-profile")
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )


def rest(path: str):
    url = f"http://localhost:4040/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def app_id() -> str:
    return rest("applications")[0]["id"]


def formatted_plan(df) -> str:
    explain = df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString
    return explain(df._jdf.queryExecution(), "formatted")


def profile(spark, name, fn, sf_dir, runs, tag, do_run):
    df = fn(spark, sf_dir)
    os.makedirs(PLANS_DIR, exist_ok=True)
    with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as fh:
        fh.write(formatted_plan(df))
    if not do_run:
        print(f"[plan] {name}", file=sys.stderr)
        return None

    sc = spark.sparkContext
    aid = app_id()
    sc.setJobDescription(f"{name}: warmup")
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    warm = time.perf_counter() - t0
    jobs_before = {j["jobId"] for j in rest(f"applications/{aid}/jobs")}
    best = float("inf")
    lap_marks = []
    for i in range(runs):
        sc.setJobDescription(f"{name}: timed {i}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        lap = time.perf_counter() - t0
        lap_marks.append(lap)
        best = min(best, lap)
    sc.setJobDescription(None)
    jobs = [j for j in rest(f"applications/{aid}/jobs") if j["jobId"] not in jobs_before]
    # per-timed-lap job count = total new jobs / runs
    n_jobs = len(jobs)
    stages = rest(f"applications/{aid}/stages?status=complete")
    rec = {
        "name": name,
        "warmup_s": round(warm, 3),
        "best_s": round(best, 3),
        "laps": [round(x, 3) for x in lap_marks],
        "jobs_per_lap": n_jobs / max(runs, 1),
        "n_jobs_timed": n_jobs,
    }
    # attribute stage metrics for the timed jobs
    sids = set()
    for j in jobs:
        sids.update(j.get("stageIds", []))
    tot_task_time = 0.0
    tot_sh_read = tot_sh_write = tot_input = 0
    n_tasks = 0
    slowest = []
    for st in stages:
        if st["stageId"] not in sids:
            continue
        dur = 0.0
        if st.get("firstTaskLaunchedTime") and st.get("completionTime"):
            pass
        tot_task_time += st.get("executorRunTime", 0) / 1000.0
        tot_sh_read += st.get("shuffleReadBytes", 0)
        tot_sh_write += st.get("shuffleWriteBytes", 0)
        tot_input += st.get("inputBytes", 0)
        n_tasks += st.get("numCompleteTasks", 0)
        slowest.append((st.get("executorRunTime", 0) / 1000.0, st["stageId"],
                        st.get("name", "")[:60], st.get("numCompleteTasks", 0)))
    slowest.sort(reverse=True)
    rec.update(
        exec_run_time_s=round(tot_task_time, 2),
        tasks=n_tasks,
        shuffle_read_mb=round(tot_sh_read / 1e6, 2),
        shuffle_write_mb=round(tot_sh_write / 1e6, 2),
        input_mb=round(tot_input / 1e6, 2),
        top_stages=[
            {"run_s": round(t, 2), "stage": s, "tasks": k, "name": n}
            for t, s, n, k in slowest[:6]
        ],
    )
    print(json.dumps(rec), file=sys.stderr)
    bench.release_blocks(spark)
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(cpus, ui=not args.plans_only)
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_queries.queries()
    names = args.only or list(registry)
    out = {}
    for name in names:
        if name not in registry:
            print(f"[skip] unknown query {name}", file=sys.stderr)
            continue
        try:
            rec = profile(spark, name, registry[name], args.sf_dir,
                          args.runs, args.tag, not args.plans_only)
            if rec:
                out[name] = rec
        except Exception as ex:  # keep going; a broken probe is data too
            print(f"[err] {name}: {ex}", file=sys.stderr)
            out[name] = {"err": str(ex)}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
