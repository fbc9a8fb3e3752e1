"""Seeded input generators and the reference-semantics oracle.

The oracle is a dense numpy model of one 1 s-grid sensor: a ``present``
flag per grid second and one float32 array per metric, NaN meaning an
empty cell.  It applies the reference semantics independently of the
engine:

* timestamps snap down to the grid;
* within and across batches the last non-NaN value written to a cell
  wins, in arrival order;
* a NaN never overwrites a stored value, but a written row exists even
  when all of its cells are NaN;
* a metric added later reads as the fill value (0.0) in every row that
  existed before it was added, and as NaN in rows created later.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

FILL = 0.0


class SensorModel:
    """Dense model of a 1 s-grid sensor whose grid seconds start at ``t0``."""

    def __init__(self, t0: int, metrics: list[str]):
        self.t0 = int(t0)
        self.metrics = list(metrics)
        self.present = np.zeros(0, dtype=bool)
        self.vals = {m: np.zeros(0, dtype=np.float32) for m in self.metrics}

    def _ensure(self, n: int) -> None:
        have = len(self.present)
        if n <= have:
            return
        n = max(n, have + have // 2)
        self.present = np.concatenate([self.present, np.zeros(n - have, dtype=bool)])
        for m, v in self.vals.items():
            self.vals[m] = np.concatenate([v, np.full(n - have, np.nan, dtype=np.float32)])

    def write(self, ts: np.ndarray, cols: dict[str, np.ndarray]) -> None:
        """Apply one batch; ``ts`` (float seconds) and the columns are in
        arrival order."""
        idx = np.floor(np.asarray(ts, dtype=np.float64)).astype(np.int64) - self.t0
        if len(idx) == 0:
            return
        if idx.min() < 0:
            raise ValueError("batch starts before the model's first grid second")
        self._ensure(int(idx.max()) + 1)
        for m in cols:
            if m not in self.vals:
                self.vals[m] = np.where(
                    self.present, np.float32(FILL), np.float32(np.nan)
                ).astype(np.float32)
                self.metrics.append(m)
        for m, v in cols.items():
            v = np.asarray(v, dtype=np.float64).astype(np.float32)
            ok = ~np.isnan(v)
            i_ok, v_ok = idx[ok], v[ok]
            # last occurrence of each index in arrival order
            uniq, pos = np.unique(i_ok[::-1], return_index=True)
            self.vals[m][uniq] = v_ok[::-1][pos]
        self.present[idx] = True

    def window(self, start: float | None, end: float | None) -> tuple[np.ndarray, np.ndarray]:
        """(grid seconds, float32 matrix in metric order) of the stored rows
        with snap(start) <= ts <= end."""
        lo = 0 if start is None else max(int(np.floor(start)) - self.t0, 0)
        hi = len(self.present) - 1 if end is None else min(
            int(np.floor(end)) - self.t0, len(self.present) - 1
        )
        if hi < lo:
            sel = np.zeros(0, dtype=np.int64)
        else:
            sel = np.nonzero(self.present[lo : hi + 1])[0] + lo
        mat = np.column_stack([self.vals[m][sel] for m in self.metrics]) if len(sel) else (
            np.zeros((0, len(self.metrics)), dtype=np.float32)
        )
        return sel + self.t0, mat.astype(np.float32)

    def last_ts(self) -> float | None:
        nz = np.nonzero(self.present)[0]
        return None if len(nz) == 0 else float(nz[-1] + self.t0)

    def head(self) -> int:
        """One past the last stored grid second."""
        last = self.last_ts()
        return self.t0 if last is None else int(last) + 1

    def stored_cells(self) -> int:
        return int(self.present.sum()) * len(self.metrics)

    def downsampled(self, start: int, end: int, max_datapoints: int):
        """First stored row per maxDataPoints bucket (grafana thinning)."""
        ts, mat = self.window(start, end)
        spread = max(int((end - start + 1) / max_datapoints), 1)
        bucket = ts - ((ts - start) % spread)
        _, first = np.unique(bucket, return_index=True)
        return ts[first], mat[first]


def same_rows(ts: np.ndarray, mat: np.ndarray, exp_ts: np.ndarray, exp_mat: np.ndarray) -> bool:
    """Exact comparison: identical timestamps and float32 cells, NaN == NaN."""
    ts = np.asarray(ts, dtype=np.float64)
    if ts.shape != exp_ts.shape or not np.array_equal(ts, exp_ts.astype(np.float64)):
        return False
    mat = np.asarray(mat, dtype=np.float32)
    return mat.shape == exp_mat.shape and np.array_equal(mat, exp_mat, equal_nan=True)


def frame_rows(pdf: pd.DataFrame, metrics: list[str]) -> tuple[np.ndarray, np.ndarray] | None:
    """A ``read_pandas`` frame as (epoch seconds, float32 matrix), or None
    when its columns are not exactly ``metrics`` in order."""
    if [str(c) for c in pdf.columns] != list(metrics):
        return None
    ns = pdf.index.asi8
    return ns / 1e9, pdf.to_numpy(dtype=np.float32)


# ----------------------------------------------------------------------
# seeded inputs
# ----------------------------------------------------------------------
class HistorySpec:
    """Closed-form history ``ts = t0 + id * step`` whose cells are
    ``((id * a + b) % 1021) / 8`` or NaN where ``(id * c + d) % 37 == 0``.
    Integer arithmetic makes the Spark expression and the numpy model
    agree bit for bit."""

    def __init__(self, rng: np.random.Generator, t0: int, rows: int, step: int, metrics: list[str]):
        self.t0, self.rows, self.step, self.metrics = int(t0), int(rows), int(step), list(metrics)
        self.coef = [tuple(int(x) for x in rng.integers(1, 997, size=4)) for _ in metrics]

    def spark_df(self, spark):
        from pyspark.sql import functions as F

        i = F.col("id")
        cols = [(i * self.step + self.t0).cast("double").alias("ts_sec")]
        for m, (a, b, c, d) in zip(self.metrics, self.coef):
            v = ((i * a + b) % 1021).cast("double") / 8.0
            cols.append(F.when((i * c + d) % 37 == 0, F.lit(float("nan"))).otherwise(v).alias(m))
        return spark.range(self.rows).select(*cols)

    def apply_to(self, model: SensorModel) -> None:
        i = np.arange(self.rows, dtype=np.int64)
        cols = {}
        for m, (a, b, c, d) in zip(self.metrics, self.coef):
            v = ((i * a + b) % 1021).astype(np.float64) / 8.0
            v[(i * c + d) % 37 == 0] = np.nan
            cols[m] = v
        model.write((i * self.step + self.t0).astype(np.float64), cols)


def batch(
    rng: np.random.Generator,
    start: int,
    seconds: int,
    metrics: list[str],
    dup_frac: float = 0.04,
    nan_frac: float = 0.03,
) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """One upsert batch over ``[start, start + seconds)``: a row per grid
    second, plus ``dup_frac`` extra rows that hit an already-covered cell
    (some off-grid by a fraction of a second), NaN cells, shuffled into
    a random arrival order.  Values are multiples of 1/8, exact in
    float32 and in decimal text."""
    base = start + np.arange(seconds, dtype=np.float64)
    n_dup = int(seconds * dup_frac)
    dup = base[rng.integers(0, seconds, size=n_dup)] + rng.choice([0.0, 0.25, 0.5], size=n_dup)
    ts = np.concatenate([base, dup])
    order = rng.permutation(len(ts))
    ts = ts[order]
    cols = {}
    for m in metrics:
        v = rng.integers(0, 80000, size=len(ts)).astype(np.float64) / 8.0
        v[rng.random(len(ts)) < nan_frac] = np.nan
        cols[m] = v
    return ts, cols


def to_pandas(ts: np.ndarray, cols: dict[str, np.ndarray]) -> pd.DataFrame:
    """The reference client's ``write_df`` shape: tz-aware DatetimeIndex
    x metric columns."""
    idx = pd.to_datetime(np.round(ts * 1e9).astype(np.int64), utc=True)
    return pd.DataFrame(cols, index=idx)


def influx_lines(db: str, sensor: str, ts: np.ndarray, cols: dict[str, np.ndarray]) -> str:
    """Line protocol ``db,key=sensor m=v,... ts_ns``, one line per row
    (whole-second timestamps only)."""
    names = list(cols)
    mat = np.column_stack([cols[m] for m in names])
    out = []
    for t, row in zip(ts, mat):
        fields = ",".join(f"{m}={v!r}" for m, v in zip(names, row.tolist()))
        out.append(f"{db},key={sensor} {fields} {int(t) * 1_000_000_000}")
    return "\n".join(out) + "\n"
