#!/usr/bin/env python3
"""Engine benchmark for ong_tsdb_spark.

Usage (from the repository root)::

    python3 enginebench/run.py --workload ingest_mixed --seed 1 --seconds 20 --trace 0

One run starts one Spark session (``local[N]``, N = 2 or the host's
cores if fewer), builds a fresh store under ``.enginebench/`` in the
repository root, runs the workload as a closed loop with one client for
``--seconds``, checks every answer against a pandas/numpy model of the
reference semantics, ends with an untimed full read of every sensor
compared to that model, and deletes the store.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end metrics; the per-operation-type figures
behind them are printed on the lines before it.  With ``--trace 1``
every other operation runs traced and the metrics are the per-layer
ones; the span file and per-operation Spark counts are
written to ``.enginebench/trace-<workload>-seed<seed>.json``.

Writes use Spark's Parquet commit protocol and nothing calls fsync:
the same flush policy on every commit compared.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import spans  # noqa: E402
from workloads import CHUNK, DB, WORKLOADS  # noqa: E402

#: end-to-end metric -> unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "cells_per_s": "1/s",
    "bytes_per_cell": "B",
    "ok_ops_frac": "frac",
    "peak_rss_mb": "MB",
}

#: per-operation-type figures printed before the JSON line:
#: kind -> [(name, statistic, unit)]
NAMED = {
    "upsert": [("upsert_p50_s", "p50", "s"), ("upsert_tail_s", "tail", "s")],
    "serve_read": [("serve_read_p50_ms", "p50", "ms"), ("serve_read_tail_ms", "tail", "ms")],
    "scan_read": [("scan_read_p50_s", "p50", "s")],
    "grafana": [("grafana_query_p50_s", "p50", "s")],
    "last_ts": [("last_ts_p50_ms", "p50", "ms")],
    "http_ingest": [("http_ingest_p50_s", "p50", "s")],
    "http_binary_ingest": [("http_binary_ingest_p50_s", "p50", "s")],
    "http_read": [("http_read_p50_s", "p50", "s")],
}

#: per-layer metric -> unit (see README.md for what each should move)
PER_LAYER = {
    "spark.jobs_per_upsert": "count",
    "spark.stages_per_upsert": "count",
    "spark.tasks_per_upsert": "count",
    "storage.chunks_touched_per_upsert": "count",
    "storage.files_written_per_upsert": "count",
    "storage.bytes_written_per_upsert": "B",
    "storage.write_amp": "ratio",
    "storage.files_per_chunk": "count",
    "catalog.list_data_partitions.calls": "count",
    "catalog.list_data_partitions.busy_s": "s",
    "catalog.get_config.calls": "count",
    "catalog.get_config.busy_s": "s",
    "catalog.bump_version.busy_s": "s",
    "catalog.write_lock.wait_s": "s",
    "pandas_edge.pdf_to_records.busy_s": "s",
    "spark.createDataFrame.busy_s": "s",
    "engine.fast_read_hit_ratio": "ratio",
    "engine.read_pandas.chunks_per_call": "count",
    "spark.jobs_per_serve_read": "count",
    "spark.jobs_per_scan_read": "count",
    "spark.tasks_per_scan_read": "count",
    "operators.downsample.downsample_max_datapoints.busy_s": "s",
    "spark.jobs_per_grafana_query": "count",
    "spark.tasks_per_grafana_query": "count",
    "sources.influx.parse_lines.busy_s": "s",
    "streaming.ingest.upsert_parsed_batch.busy_s": "s",
    "spark.jobs_per_http_ingest": "count",
    "spark.jobs_per_http_binary_ingest": "count",
    "spark.jobs_per_http_read": "count",
    "service.server.influx.self_s": "s",
    "service.server.influx_binary.self_s": "s",
    "service.server.read_df.self_s": "s",
    "spark.failed_tasks": "count",
    "trace.spans_per_op": "count",
    "trace.overhead_frac": "ratio",
}

WRITE_KINDS = ("upsert", "http_ingest", "http_binary_ingest")
WATCHDOG_S = 170


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------
def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, never below the median."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return statistics.median(s), 50
    return s[n - 11], int(100 * (n - 10) / n)


def gmean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# ----------------------------------------------------------------------
# running operations
# ----------------------------------------------------------------------
class Runner:
    def __init__(self, spark, workload, trace: bool):
        self.spark = spark
        self.wl = workload
        self.records: list[dict] = []
        self.tracer = spans.Tracer() if trace else None
        self.counts = spans.SparkCounts(spark) if trace else None

    def _chunks_in(self, window) -> int:
        sensor, start, end = window
        lo = -math.inf if start is None else math.floor(start) // CHUNK * CHUNK
        hi = math.inf if end is None else math.floor(end) // CHUNK * CHUNK
        return sum(
            lo <= int(c.split("=", 1)[1]) <= hi
            for c in spans.census(self.wl.data_dir(sensor))
        )

    def run(self, op, phase: str, traced: bool = False) -> dict:
        n = len(self.records) + 1
        group = f"enginebench:{op.kind}:{n}"
        self.spark.sparkContext.setJobGroup(group, op.kind)
        rec = {"op": n, "kind": op.kind, "phase": phase, "traced": traced}
        tracer = self.tracer if traced else None
        if tracer:
            before = {s: spans.census(self.wl.data_dir(s)) for s in op.writes}
            if op.window:
                rec["chunks"] = self._chunks_in(op.window)
            self.counts.begin()
        route_span = None
        t0 = time.perf_counter()
        try:
            with tracer.operation(n, op.kind) if tracer else contextlib.nullcontext():
                if tracer and op.route:
                    with tracer.span(f"service.server.{op.route}") as route_span:
                        result = op.run()
                else:
                    result = op.run()
            rec["latency"] = time.perf_counter() - t0
            rec["ok"], rec["cells"] = op.check(result)
        except Exception:  # a failed operation is counted, never fatal
            rec["latency"] = time.perf_counter() - t0
            rec["ok"], rec["cells"] = False, 0
            traceback.print_exc(file=sys.stderr)
        rec["ok"] = bool(rec["ok"])
        if not rec["ok"]:
            print(f"FAILED {op.kind} op {n}", file=sys.stderr)
        if tracer:
            rec.update(self.counts.collect(group))
            delta = {"chunks_touched": 0, "files_written": 0, "bytes_written": 0}
            for s, b in before.items():
                for k, v in spans.census_delta(b, spans.census(self.wl.data_dir(s))).items():
                    delta[k] += v
            rec.update(delta, user_bytes=op.user_bytes)
            if route_span is not None:
                rec["route"] = op.route
                rec["route_self_s"] = spans.self_time(
                    tracer.spans, route_span, ("engine.", "streaming.")
                )
        self.records.append(rec)
        return rec


def timed_loop(runner: Runner, seconds: float, trace: bool) -> None:
    """Closed loop, one client.  With tracing, every other position of
    the mix runs traced, and the traced positions swap each cycle, so
    that over two cycles each position runs once traced and once
    untraced, whatever the cycle length.  The loop
    ends at the first cycle boundary after ``seconds``, so every run
    has the same operation mix."""
    wl = runner.wl
    min_cycles = 2 if trace else 1
    gen = wl.ops()
    t_start = time.perf_counter()
    i = 0
    while (
        i < min_cycles * wl.cycle
        or i % wl.cycle
        or time.perf_counter() - t_start < seconds
    ):
        traced = trace and (i % wl.cycle + i // wl.cycle) % 2 == 0
        op = next(gen)
        with (
            spans.installed(runner.tracer, wl.engine, runner.spark)
            if traced
            else contextlib.nullcontext()
        ):
            runner.run(op, "timed", traced)
        i += 1


def stored_bytes(wl) -> int:
    total = 0
    for s in wl.models:
        for dirpath, _, files in os.walk(wl.data_dir(s)):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet")
            )
    return total


def end_to_end(records: list[dict], setup_s: float, wl, rss_mb: float) -> tuple[dict, list[str]]:
    timed = [r for r in records if r["phase"] == "timed" and not r["traced"]]
    lat: dict[str, list[float]] = {}
    for r in timed:
        if r["ok"]:
            lat.setdefault(r["kind"], []).append(r["latency"])
    if not lat:
        raise RuntimeError("no operation succeeded")
    busy = sum(r["latency"] for r in timed)
    failed = sum(not r["ok"] for r in records)
    values = {
        "setup_s": setup_s,
        "op_p50_ms": 1000 * gmean([statistics.median(v) for v in lat.values()]),
        "op_tail_ms": 1000 * gmean([tail(v)[0] for v in lat.values()]),
        "cells_per_s": sum(r["cells"] for r in timed) / busy,
        "bytes_per_cell": stored_bytes(wl) / sum(m.stored_cells() for m in wl.models.values()),
        "ok_ops_frac": 1.0 - failed / len(records),
        "peak_rss_mb": rss_mb,
    }
    lines = []
    for kind, xs in lat.items():
        for name, stat, unit in NAMED.get(kind, []):
            v, pct = (statistics.median(xs), 50) if stat == "p50" else tail(xs)
            v *= 1000 if unit == "ms" else 1
            lines.append(f"# {name} = {v:.6g} {unit} (p{pct} of n={len(xs)})")
    if "upsert" in lat:
        ups = [r for r in timed if r["kind"] == "upsert"]
        rate = sum(r["cells"] for r in ups) / sum(r["latency"] for r in ups)
        lines.append(f"# write_cells_per_s = {rate:.6g} 1/s (n={len(ups)})")
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}, lines


def per_layer(records: list[dict], tracer, wl) -> dict:
    traced = [r for r in records if r["traced"]]
    by_kind: dict[str, list[dict]] = {}
    for r in traced:
        by_kind.setdefault(r["kind"], []).append(r)
    ops_ids = {r["op"] for r in traced}
    busy: dict[str, float] = {}
    calls: dict[str, int] = {}
    n_spans = 0
    for _, name, t0, t1, _, op in tracer.spans:
        if op in ops_ids:
            n_spans += 1
            busy[name] = busy.get(name, 0.0) + (t1 - t0)
            calls[name] = calls.get(name, 0) + 1
    n_ops = len(traced)

    def per_kind(kind: str, key: str) -> float:
        return mean(r[key] for r in by_kind.get(kind, []))

    def busy_per(name: str, kinds: tuple[str, ...] | None = None) -> float:
        n = n_ops if kinds is None else sum(len(by_kind.get(k, [])) for k in kinds)
        return busy.get(name, 0.0) / n if n else 0.0

    writes = [r for r in traced if r["kind"] in WRITE_KINDS]
    user_bytes = sum(r["user_bytes"] for r in writes)
    serve = by_kind.get("serve_read", [])
    reads = serve + by_kind.get("scan_read", [])
    chunk_files = [len(files) for s in wl.models for files in spans.census(wl.data_dir(s)).values()]

    def route_self(route: str) -> float:
        return mean(r["route_self_s"] for r in traced if r.get("route") == route)

    # tracing overhead: traced against untraced operations of the same run
    untraced = [r for r in records if r["phase"] == "timed" and not r["traced"] and r["ok"]]
    kinds = [k for k in by_kind if any(r["kind"] == k for r in untraced)]

    def p50(rs: list[dict], kind: str) -> float:
        return statistics.median([r["latency"] for r in rs if r["kind"] == kind and r["ok"]])

    overhead = (
        gmean([p50(traced, k) for k in kinds]) / gmean([p50(untraced, k) for k in kinds]) - 1.0
        if kinds
        else 0.0
    )
    values = {
        "spark.jobs_per_upsert": per_kind("upsert", "jobs"),
        "spark.stages_per_upsert": per_kind("upsert", "stages"),
        "spark.tasks_per_upsert": per_kind("upsert", "tasks"),
        "storage.chunks_touched_per_upsert": mean(r["chunks_touched"] for r in writes),
        "storage.files_written_per_upsert": mean(r["files_written"] for r in writes),
        "storage.bytes_written_per_upsert": mean(r["bytes_written"] for r in writes),
        "storage.write_amp": (
            sum(r["bytes_written"] for r in writes) / user_bytes if user_bytes else 0.0
        ),
        "storage.files_per_chunk": mean(chunk_files),
        "catalog.list_data_partitions.calls": calls.get("catalog.list_data_partitions", 0) / n_ops,
        "catalog.list_data_partitions.busy_s": busy_per("catalog.list_data_partitions"),
        "catalog.get_config.calls": calls.get("catalog.get_config", 0) / n_ops,
        "catalog.get_config.busy_s": busy_per("catalog.get_config"),
        "catalog.bump_version.busy_s": busy_per("catalog.bump_version"),
        "catalog.write_lock.wait_s": busy_per("catalog.write_lock.wait"),
        "pandas_edge.pdf_to_records.busy_s": busy_per("pandas_edge.pdf_to_records"),
        "spark.createDataFrame.busy_s": busy_per("spark.createDataFrame"),
        "engine.fast_read_hit_ratio": (
            sum(r["jobs"] == 0 for r in serve) / len(serve) if serve else 0.0
        ),
        "engine.read_pandas.chunks_per_call": mean(r["chunks"] for r in reads),
        "spark.jobs_per_serve_read": per_kind("serve_read", "jobs"),
        "spark.jobs_per_scan_read": per_kind("scan_read", "jobs"),
        "spark.tasks_per_scan_read": per_kind("scan_read", "tasks"),
        "operators.downsample.downsample_max_datapoints.busy_s": busy_per(
            "operators.downsample.downsample_max_datapoints", ("grafana",)
        ),
        "spark.jobs_per_grafana_query": per_kind("grafana", "jobs"),
        "spark.tasks_per_grafana_query": per_kind("grafana", "tasks"),
        "sources.influx.parse_lines.busy_s": busy_per(
            "sources.influx.parse_lines", ("http_ingest",)
        ),
        "streaming.ingest.upsert_parsed_batch.busy_s": busy_per(
            "streaming.ingest.upsert_parsed_batch", ("http_ingest",)
        ),
        "spark.jobs_per_http_ingest": per_kind("http_ingest", "jobs"),
        "spark.jobs_per_http_binary_ingest": per_kind("http_binary_ingest", "jobs"),
        "spark.jobs_per_http_read": per_kind("http_read", "jobs"),
        "service.server.influx.self_s": route_self("influx"),
        "service.server.influx_binary.self_s": route_self("influx_binary"),
        "service.server.read_df.self_s": route_self("read_df"),
        "spark.failed_tasks": sum(r["failed_tasks"] for r in traced),
        "trace.spans_per_op": n_spans / n_ops,
        "trace.overhead_frac": overhead,
    }
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, work: str,
                 out_dir: str, session_s: float = 0.0) -> tuple[dict, list[str]]:
    """Set up, warm up, run and verify one workload on ``spark``; the
    store lives under ``work`` and a traced run's span file goes to
    ``out_dir``.  Returns the result object and the human-readable
    lines printed before it."""
    from ong_tsdb_spark import OngTsdbSpark

    t0 = time.perf_counter()
    engine = OngTsdbSpark(spark, os.path.join(work, "store"))
    engine.create_db(DB)
    wl = WORKLOADS[name](np.random.default_rng(seed), engine, spark)
    wl.setup()
    runner = Runner(spark, wl, trace)
    for op in wl.warmup():
        runner.run(op, "warmup")
    setup_s = session_s + time.perf_counter() - t0

    timed_loop(runner, seconds, trace)
    for op in wl.verify_ops():
        runner.run(op, "verify")
    spark.sparkContext.setJobGroup("enginebench:idle", "idle")

    records = runner.records
    failed = sum(not r["ok"] for r in records)
    result = {"correct": failed == 0, "attempted": len(records), "failed": failed}
    if trace:
        out = os.path.join(out_dir, f"trace-{name}-seed{seed}.json")
        runner.tracer.dump(out, records)
        metrics, lines = per_layer(records, runner.tracer, wl), [f"# trace written to {out}"]
    else:
        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        metrics, lines = end_to_end(records, setup_s, wl, peak_rss_mb(pids))
    result["metrics"] = metrics
    return result, lines


# ----------------------------------------------------------------------
# session
# ----------------------------------------------------------------------
def start_session(work: str):
    """One Spark session whose temporary files all stay under ``work``."""
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    from pyspark.sql import SparkSession

    # two task threads leave the other cores to the Python driver and the
    # JVM's compiler and GC threads; with as many task threads as cores
    # the runs measured the scheduler (writes were 15-25 % slower on a
    # 4-core host)
    cores = min(2, os.cpu_count() or 1)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("enginebench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # -Xms at the heap's maximum: the peak RSS then does not depend on
        # when the collector chose to grow the heap.  No perf-data file.
        .config("spark.driver.extraJavaOptions", f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={work}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of input
        proc.wait(timeout=60)


def _watchdog(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {WATCHDOG_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import ong_tsdb_spark  # noqa: F401
    except ImportError as ex:
        print(f"enginebench: cannot import the package under test: {ex}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".enginebench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(work)
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(WATCHDOG_S)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        result, lines = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), work, out_dir,
            session_s,
        )
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            signal.alarm(0)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
