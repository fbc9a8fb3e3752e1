"""Tracing for the traced run: spans around calls into each layer,
Spark job/stage/task counts per operation, and storage censuses.

Spans are ``(id, name, start, end, parent, op)`` tuples kept in memory
and written out once at the end of the run.  The wrappers are
installed from the benchmark's side by patching public functions of
the package's modules around each traced operation; nothing in the
package itself records anything.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: int | None = None
        self.op_span: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        st = self._stack()
        # threads started inside an operation (concurrent sensor writes)
        # have an empty stack: their spans hang off the operation's span
        parent = st[-1] if st else self.op_span
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, self.op))

    @contextlib.contextmanager
    def operation(self, op: int, kind: str):
        self.op = op
        with self.span(f"op.{kind}") as sid:
            self.op_span = sid
            try:
                yield
            finally:
                self.op_span = None

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str, ops: list[dict]) -> None:
        keys = ("id", "name", "start", "end", "parent", "op")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(keys, s)) for s in self.spans], "ops": ops}, f)


#: public functions of the lower modules timed in the traced run:
#: (module, attribute holder, attribute, span name)
_MODULE_WRAPS = [
    ("ong_tsdb_spark.catalog", "Catalog", "list_data_partitions", "catalog.list_data_partitions"),
    ("ong_tsdb_spark.catalog", "Catalog", "get_config", "catalog.get_config"),
    ("ong_tsdb_spark.catalog", "Catalog", "bump_version", "catalog.bump_version"),
    ("ong_tsdb_spark.locks", "SensorFileLock", "acquire", "catalog.write_lock.wait"),
    # bound by name at import: patch the importing module's reference
    ("ong_tsdb_spark.engine", None, "pdf_to_records", "pandas_edge.pdf_to_records"),
    ("ong_tsdb_spark.operators.downsample", None, "downsample_max_datapoints",
     "operators.downsample.downsample_max_datapoints"),
    ("ong_tsdb_spark.service.server", None, "parse_lines", "sources.influx.parse_lines"),
    ("ong_tsdb_spark.service.server", None, "upsert_parsed_batch",
     "streaming.ingest.upsert_parsed_batch"),
]

_ENGINE_METHODS = [
    "write_df", "write_points", "write_points_multi", "write_long_df", "write_spark_df",
    "read", "read_pandas", "read_downsampled", "get_last_timestamp",
]


@contextlib.contextmanager
def installed(tracer: Tracer, engine, spark):
    """Install the span wrappers; restore every patched attribute on exit."""
    restore = []  # (object, attribute, original or None for an instance attribute)
    for mod_name, holder, attr, span_name in _MODULE_WRAPS:
        mod = importlib.import_module(mod_name)
        obj = getattr(mod, holder) if holder else mod
        orig = getattr(obj, attr)
        setattr(obj, attr, tracer.wrap(span_name, orig))
        restore.append((obj, attr, orig))
    for name in _ENGINE_METHODS:
        setattr(engine, name, tracer.wrap(f"engine.{name}", getattr(engine, name)))
        restore.append((engine, name, None))
    spark.createDataFrame = tracer.wrap("spark.createDataFrame", spark.createDataFrame)
    restore.append((spark, "createDataFrame", None))
    try:
        yield
    finally:
        for obj, attr, orig in reversed(restore):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)


class SparkCounts:
    """Job/stage/task counts of one operation from ``StatusTracker``:
    the jobs of the operation's job group, plus group-less jobs that
    appeared during it (threads started inside an operation do not
    inherit the job group)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._seen_groupless: set[int] = set()

    def _drain(self) -> None:
        # stage completions reach the status store asynchronously
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def begin(self) -> None:
        self._drain()
        self._seen_groupless = set(self.tracker.getJobIdsForGroup(None))

    def collect(self, group: str) -> dict:
        self._drain()
        groupless = set(self.tracker.getJobIdsForGroup(None))
        jobs = set(self.tracker.getJobIdsForGroup(group)) | (groupless - self._seen_groupless)
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = self.tracker.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped stage
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def census(data_dir: str) -> dict[str, dict[str, int]]:
    """{chunk dir: {parquet file: size}} of one sensor's data directory."""
    out: dict[str, dict[str, int]] = {}
    if not os.path.isdir(data_dir):
        return out
    for entry in os.listdir(data_dir):
        p = os.path.join(data_dir, entry)
        if entry.startswith("chunk_start=") and os.path.isdir(p):
            out[entry] = {
                fn: os.path.getsize(os.path.join(p, fn))
                for fn in os.listdir(p)
                if fn.endswith(".parquet")
            }
    return out


def census_delta(before: dict, after: dict) -> dict[str, int]:
    """Chunks whose file set changed, files and bytes that are new."""
    chunks = files = nbytes = 0
    for chunk, now in after.items():
        old = before.get(chunk, {})
        new_files = [f for f in now if f not in old]
        if new_files or set(old) != set(now):
            chunks += 1
        files += len(new_files)
        nbytes += sum(now[f] for f in new_files)
    return {"chunks_touched": chunks, "files_written": files, "bytes_written": nbytes}


def self_time(spans: list[tuple], root: int, child_prefixes: tuple[str, ...]) -> float:
    """Duration of span ``root`` minus the union of the intervals of
    its descendant spans whose names start with ``child_prefixes``
    (outermost matching descendants only)."""
    by_id = {s[0]: s for s in spans}
    children: dict[int, list[tuple]] = {}
    for s in spans:
        children.setdefault(s[4], []).append(s)
    r = by_id[root]
    intervals = []
    todo = list(children.get(root, []))
    while todo:
        s = todo.pop()
        if s[1].startswith(child_prefixes):
            intervals.append((s[2], s[3]))
        else:
            todo.extend(children.get(s[0], []))
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, r[2]), min(hi, r[3])
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (r[3] - r[2]) - covered
