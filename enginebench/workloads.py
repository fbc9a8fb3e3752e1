"""The benchmark's workloads.

Each workload builds its store in ``setup`` and then yields an endless,
fixed-order cycle of operations; every operation carries its own
correctness check against the oracle in ``model``.  All inputs come
from the workload's seeded generator and are built before the
operation is timed.

* ``ingest_mixed``: ``write_df`` batches into three 1 s sensors whose
  history (36 chunks) is past Spark's 32-directory parallel listing
  threshold; one batch in three is late and rewrites old chunks, and
  one in nine adds a new metric.  Between them, ``/influx`` line
  protocol to one sensor and ``/influx_binary`` msgpack across all
  three go through the Flask app's in-process test client, each
  followed by ``read_df`` of a window just written.
* ``dashboard_read``: read-only.  Narrow ``read_pandas`` windows over a
  dense sensor (1 to 11 chunks, under the 64-chunk driver-side
  bound), ``get_last_timestamp``, 1-day ``read_downsampled`` queries,
  and wide windows over a sparse sensor of 80 chunks (72 chunks per
  window, so the Spark path).  Each window covers a fixed number of
  chunks, whatever the seed.
"""

from __future__ import annotations

import base64
import zlib
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import numpy as np

from model import (
    HistorySpec,
    SensorModel,
    batch,
    frame_rows,
    influx_lines,
    same_rows,
    to_pandas,
)

CHUNK = 16384  # grid seconds per chunk partition of a 1 s sensor
DB = "bench"
METRICS = ["m0", "m1", "m2", "m3"]
_EPOCH = (1_700_000_000 // CHUNK) * CHUNK


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    #: result -> (correct, user cells moved); runs untimed after ``run``
    check: Callable[[Any], tuple[bool, int]]
    #: sensors whose stored files the operation rewrites
    writes: list[str] = field(default_factory=list)
    #: bytes of user data submitted (8 B timestamp + 4 B per cell per row)
    user_bytes: int = 0
    #: (sensor, start, end) of a ``read_pandas`` window
    window: tuple | None = None
    #: Flask route the operation calls
    route: str | None = None


class Workload:
    name = ""
    #: operations in one full cycle of the mix
    cycle = 1

    def __init__(self, rng: np.random.Generator, engine, spark):
        self.rng = rng
        self.engine = engine
        self.spark = spark
        self.models: dict[str, SensorModel] = {}
        self.t0 = _EPOCH + int(rng.integers(0, 64)) * CHUNK

    # -- set-up helpers ---------------------------------------------
    def preload(self, histories: list[tuple[str, int, int]]) -> None:
        """Create each ``(sensor, chunks, step)`` and write its history in
        one upsert per sensor; the upserts run as concurrent jobs."""
        from concurrent.futures import ThreadPoolExecutor

        specs = {}
        for sensor, chunks, step in histories:
            self.engine.create_sensor(DB, sensor, "1s", METRICS)
            specs[sensor] = HistorySpec(self.rng, self.t0, chunks * CHUNK // step, step, METRICS)
        with ThreadPoolExecutor(len(specs)) as pool:
            futures = [
                pool.submit(self.engine.write_spark_df, DB, s, spec.spark_df(self.spark))
                for s, spec in specs.items()
            ]
            for f in futures:
                f.result()
        for sensor, spec in specs.items():
            self.models[sensor] = model = SensorModel(self.t0, METRICS)
            spec.apply_to(model)

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> Iterator[Op]:
        """Untimed operations run once after set-up."""
        raise NotImplementedError

    def ops(self) -> Iterator[Op]:
        raise NotImplementedError

    def data_dir(self, sensor: str) -> str:
        return self.engine.catalog.data_path(DB, sensor)

    # -- operations shared by the workloads -------------------------
    def read_pandas_op(self, kind: str, sensor: str, start, end) -> Op:
        model = self.models[sensor]

        def check(pdf):
            exp_ts, exp_mat = model.window(start, end)
            got = frame_rows(pdf, model.metrics)
            return got is not None and same_rows(*got, exp_ts, exp_mat), pdf.size

        return Op(
            kind,
            lambda: self.engine.read_pandas(DB, sensor, start, end),
            check,
            window=(sensor, start, end),
        )

    def verify_ops(self) -> list[Op]:
        """Full read of every sensor, compared to the model."""
        return [self.read_pandas_op("verify", s, None, None) for s in sorted(self.models)]


def decode_read_df(body: dict, n_metrics: int) -> tuple[np.ndarray, np.ndarray]:
    """The ``read_df`` wire payload: base64(float64 dates ++ float32 values)
    keyed by the byte length of the dates."""
    key = next(k for k in body if k.isdigit())
    raw = body[key].encode("ISO-8859-1")
    if body.get("compressed"):
        raw = zlib.decompress(raw)
    raw = base64.decodebytes(raw)
    n = int(key)
    dates = np.frombuffer(raw[:n], dtype=np.float64)
    vals = np.frombuffer(raw[n:], dtype=np.float32).reshape(len(dates), n_metrics)
    return dates, vals


class IngestMixed(Workload):
    name = "ingest_mixed"
    cycle = 7
    SENSORS = ["u0", "u1", "u2"]
    HISTORY_CHUNKS, HISTORY_STEP = 36, 16
    BATCH_SECONDS = 3600
    INFLUX_ROWS, BINARY_ROWS = 600, 200

    def __init__(self, rng, engine, spark):
        super().__init__(rng, engine, spark)
        from ong_tsdb_spark.service.server import create_app

        self.client = create_app(engine).test_client()

    def setup(self) -> None:
        self.preload([(s, self.HISTORY_CHUNKS, self.HISTORY_STEP) for s in self.SENSORS])

    # -- engine upserts -------------------------------------------------
    def upsert(self, sensor: str, late: bool = False, new_metric: str | None = None) -> Op:
        model = self.models[sensor]
        if late:  # rewrites one chunk of the preloaded history
            chunk = self.t0 + int(self.rng.integers(0, self.HISTORY_CHUNKS)) * CHUNK
            start = chunk + int(self.rng.integers(0, CHUNK - self.BATCH_SECONDS))
        else:  # at the head, overlapping the last few minutes
            start = model.head() - int(self.rng.integers(0, 300))
        metrics = model.metrics + ([new_metric] if new_metric else [])
        ts, cols = batch(self.rng, start, self.BATCH_SECONDS, metrics)
        pdf = to_pandas(ts, cols)
        cells = int(sum(np.count_nonzero(~np.isnan(v)) for v in cols.values()))

        def check(_):
            model.write(ts, cols)
            return True, cells

        return Op(
            "upsert",
            lambda: self.engine.write_df(DB, sensor, pdf),
            check,
            writes=[sensor],
            user_bytes=len(ts) * (8 + 4 * len(metrics)),
        )

    # -- HTTP ingest and read-after-write -------------------------------
    def _rows(self, sensor: str, n: int):
        model = self.models[sensor]
        start = model.head() - int(self.rng.integers(0, n // 5))
        ts, cols = batch(self.rng, start, n, model.metrics, dup_frac=0.02, nan_frac=0.0)
        return np.floor(ts), cols, start

    def influx(self, sensor: str) -> tuple[Op, tuple]:
        ts, cols, start = self._rows(sensor, self.INFLUX_ROWS)
        body = influx_lines(DB, sensor, ts, cols)

        def check(resp):
            if resp.status_code != 200 or not resp.get_json().get("ok"):
                return False, 0
            self.models[sensor].write(ts, cols)
            return True, len(ts) * len(cols)

        op = Op(
            "http_ingest",
            lambda: self.client.post("/influx", data=body, content_type="text/plain"),
            check,
            writes=[sensor],
            user_bytes=len(ts) * (8 + 4 * len(cols)),
            route="influx",
        )
        return op, (sensor, start, start + self.INFLUX_ROWS - 1)

    def binary(self) -> tuple[Op, dict]:
        from ong_tsdb_spark.sources.msgpack_lite import packb

        written, tuples = {}, []
        for s in self.SENSORS:
            ts, cols, start = self._rows(s, self.BINARY_ROWS)
            written[s] = (ts, cols, start)
            names = list(cols)
            mat = np.column_stack([cols[m] for m in names]).tolist()
            tuples += [(DB, s, names, row, int(t) * 1_000_000_000) for t, row in zip(ts, mat)]
        payload = packb(tuples)

        def check(resp):
            if resp.status_code != 200 or not resp.get_json().get("ok"):
                return False, 0
            for s, (ts, cols, _) in written.items():
                self.models[s].write(ts, cols)
            return True, sum(len(ts) * len(cols) for ts, cols, _ in written.values())

        op = Op(
            "http_binary_ingest",
            lambda: self.client.post(
                "/influx_binary", data=payload, content_type="application/octet-stream"
            ),
            check,
            writes=list(self.SENSORS),
            user_bytes=sum(len(ts) * (8 + 4 * len(c)) for ts, c, _ in written.values()),
            route="influx_binary",
        )
        windows = {s: (s, st, st + self.BINARY_ROWS - 1) for s, (_, _, st) in written.items()}
        return op, windows

    def read_df(self, sensor: str, start: int, end: int) -> Op:
        model = self.models[sensor]

        def check(resp):
            if resp.status_code != 200:
                return False, 0
            dates, vals = decode_read_df(resp.get_json(), len(model.metrics))
            exp_ts, exp_mat = model.window(start, end)
            return same_rows(dates, vals, exp_ts, exp_mat), vals.size

        return Op(
            "http_read",
            lambda: self.client.post(
                f"/{DB}/{sensor}/read_df", json={"start_ts": start, "end_ts": end}
            ),
            check,
            route="read_df",
        )

    def _cycle(self, c: int) -> Iterator[Op]:
        u = [self.SENSORS[(c + k) % 3] for k in range(3)]
        yield self.upsert(u[0])
        op, window = self.influx(u[1])
        yield op
        yield self.read_df(*window)
        # one batch in three cycles grows the schema
        yield self.upsert(u[2], new_metric=f"g{c}" if c % 3 == 0 else None)
        op, windows = self.binary()
        yield op
        yield self.read_df(*windows[u[0]])
        yield self.upsert(u[1], late=True)

    def warmup(self) -> Iterator[Op]:
        # the session's first merge, first line-protocol and multi-sensor
        # HTTP ingests and first read_df are several times slower than
        # later ones
        yield self.upsert(self.SENSORS[0])
        op, _ = self.influx(self.SENSORS[1])
        yield op
        op, windows = self.binary()
        yield op
        yield self.read_df(*windows[self.SENSORS[0]])

    def ops(self) -> Iterator[Op]:
        c = 0
        while True:
            yield from self._cycle(c)
            c += 1


class DashboardRead(Workload):
    name = "dashboard_read"
    cycle = 22
    DENSE, SPARSE = "d0", "d1"
    DENSE_CHUNKS, SPARSE_CHUNKS, SPARSE_STEP = 16, 80, 256
    #: narrow window lengths of one cycle (1, 1, 2 and 11 chunks).  The
    #: 2-day windows are 4 of 10, so that the median read is a 6 h one
    #: and the tail lies inside the 2-day group, not on a group boundary.
    NARROW = [600, 3600, 6 * 3600, 2 * 86400, 2 * 86400] * 2
    GRAFANA_SECONDS, MAX_DATAPOINTS = 86400, 720
    #: wide window: 72 of the sparse sensor's 80 chunks
    SCAN_SECONDS = 71 * CHUNK + CHUNK // 2
    WARMUP_SCANS = 10

    def setup(self) -> None:
        self.preload([
            (self.DENSE, self.DENSE_CHUNKS, 1),
            (self.SPARSE, self.SPARSE_CHUNKS, self.SPARSE_STEP),
        ])

    def _recent_window(self, sensor: str, length: int, mean_age: float) -> tuple[int, int]:
        """A ``length``-second window over exactly ``ceil(length / CHUNK)``
        whole chunks of ``sensor``, so that every seed reads the same
        amount; its chunks are biased toward the newest data by an
        exponential age and its offset inside them is random."""
        model = self.models[sensor]
        span = -(-length // CHUNK)
        chunks = -(-(model.head() - model.t0) // CHUNK)
        age = min(int(self.rng.exponential(mean_age)) // CHUNK, chunks - span)
        first = model.t0 + (chunks - span - age) * CHUNK
        start = first + int(self.rng.integers(0, span * CHUNK - length + 1))
        return start, start + length - 1

    def serve_read(self, length: int) -> Op:
        start, end = self._recent_window(self.DENSE, length, 6 * 3600)
        # an off-grid start: the read snaps it down to the grid
        return self.read_pandas_op("serve_read", self.DENSE, start + 0.5, end)

    def last_ts(self, sensor: str) -> Op:
        model = self.models[sensor]
        return Op(
            "last_ts",
            lambda: self.engine.get_last_timestamp(DB, sensor),
            lambda ts: (ts == model.last_ts(), 1),
        )

    def grafana(self) -> Op:
        model = self.models[self.DENSE]
        start, end = self._recent_window(self.DENSE, self.GRAFANA_SECONDS, 3600)

        def run():
            return self.engine.read_downsampled(
                DB, self.DENSE, start, end, self.MAX_DATAPOINTS
            ).toPandas()

        def check(pdf):
            exp_ts, exp_mat = model.downsampled(start, end, self.MAX_DATAPOINTS)
            if list(pdf.columns) != ["ts_sec", *model.metrics]:
                return False, pdf.size
            got = pdf[model.metrics].to_numpy(dtype=np.float32)
            return same_rows(pdf["ts_sec"].to_numpy(), got, exp_ts, exp_mat), pdf.size

        return Op("grafana", run, check)

    def scan(self) -> Op:
        start, end = self._recent_window(self.SPARSE, self.SCAN_SECONDS, 4 * CHUNK)
        return self.read_pandas_op("scan_read", self.SPARSE, start, end)

    def _cycle(self) -> Iterator[Op]:
        for k, length in enumerate(self.NARROW):
            yield self.serve_read(length)
            yield self.last_ts(self.DENSE if k % 2 == 0 else self.SPARSE)
            if k == 4:
                yield self.grafana()
        yield self.scan()

    def warmup(self) -> Iterator[Op]:
        # Spark-path reads keep getting faster over a session's first few
        # dozen queries (scan reads: about 0.9 s at the 2nd, 0.6 s at the
        # 10th); scans are the cheapest of them and warm the downsample
        # queries too
        yield from self._cycle()
        for _ in range(self.WARMUP_SCANS):
            yield self.scan()

    def ops(self) -> Iterator[Op]:
        while True:
            yield from self._cycle()


WORKLOADS = {w.name: w for w in (IngestMixed, DashboardRead)}
