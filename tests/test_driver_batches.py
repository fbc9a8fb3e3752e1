"""Driver-resident batches (``write_df``, ``write_points``) are
normalized with numpy; batches already in Spark (``write_spark_df``,
``write_long_df``) are normalized with Column expressions.  Both must
give the same snapped timestamps, chunk keys and stored frames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ong_tsdb_spark import OngTsdbSpark
from ong_tsdb_spark.grid import Grid


def _edge_timestamps(grid: Grid, rng: np.random.Generator) -> np.ndarray:
    d = grid.chunk_duration
    t = grid.tick_seconds
    k = np.arange(-3, 4)
    bounds = np.concatenate([k * d, 1.7e9 // d * d + k * d, k * t, 1.7e9 + k * t])
    return np.concatenate(
        [
            rng.uniform(-2e9, 2e9, 400),  # pre-1970 and modern, off-grid
            rng.uniform(1.69e9, 1.71e9, 400),
            bounds,  # exact chunk boundaries and grid points
            np.nextafter(bounds, np.inf),  # +1 ULP
            np.nextafter(bounds, -np.inf),  # -1 ULP
            [-0.05, -1e-9, 0.0, 1e-9, np.nan],  # Spark floors NaN to 0
        ]
    )


@pytest.mark.parametrize("freq", ["1s", "3s", "100ms", "250ms"])
def test_grid_arrays_equal_column_expressions(spark, freq):
    grid = Grid.from_freq(freq)
    ts = _edge_timestamps(grid, np.random.default_rng(5))
    sdf = spark.createDataFrame([(float(x),) for x in ts], "ts double")
    got = sdf.select(
        "ts",
        grid.snap_expr(F.col("ts")).alias("snap"),
        grid.chunk_start_expr(F.col("ts")).alias("cs"),
    ).collect()
    assert np.array_equal([r["ts"] for r in got], ts, equal_nan=True)
    snap = grid.snap_array(ts)
    cs = grid.chunk_start_array(ts)
    whole_tick = grid.tick_seconds == int(grid.tick_seconds)
    whole_chunk = grid.chunk_duration == int(grid.chunk_duration)
    assert snap.dtype == (np.int64 if whole_tick else np.float64)
    assert cs.dtype == (np.int64 if whole_chunk else np.float64)
    # element for element, in the Python type Spark returns
    assert [r["snap"] for r in got] == snap.tolist()
    assert [r["cs"] for r in got] == cs.tolist()
    assert all(type(r["snap"]) is type(v) for r, v in zip(got, snap.tolist()))
    assert all(type(r["cs"]) is type(v) for r, v in zip(got, cs.tolist()))
    # where Spark's bigint product overflows or saturates, the twin raises
    for bad in (np.inf, -np.inf, 1e30):
        with pytest.raises(ValueError, match="out of range"):
            grid.snap_array(np.array([1.7e9, bad]))


def _stored(eng: OngTsdbSpark, sensor: str) -> tuple[pd.DataFrame, list, dict]:
    """Every stored row of a sensor as (chunk_start, ts_sec, metrics...)
    sorted by ts, plus the catalog's metrics and fills."""
    import glob
    import os

    import pyarrow.parquet as pq

    cfg = eng.catalog.get_config("test", sensor)
    frames = []
    for d in glob.glob(os.path.join(eng.catalog.data_path("test", sensor), "chunk_start=*")):
        for f in glob.glob(os.path.join(d, "*.parquet")):
            pdf = pq.read_table(f).to_pandas()
            pdf.insert(0, "chunk_start", float(d.split("=", 1)[1]))
            frames.append(pdf)
    out = pd.concat(frames, ignore_index=True).sort_values("ts_sec", ignore_index=True)
    return out, cfg.metrics, cfg.fills


def _assert_same_store(eng: OngTsdbSpark, a: str, b: str) -> None:
    fa, ma, xa = _stored(eng, a)
    fb, mb, xb = _stored(eng, b)
    assert ma == mb and xa == xb
    pd.testing.assert_frame_equal(fa, fb)


# batches with in-batch duplicate cells, NaN cells and off-grid
# timestamps; the second grows the schema with a fill
def _batches(t0: float, tick: float):
    ts1 = t0 + tick * np.array([0, 0.5, 1, 1, 2.25, 16384 * 3 + 7, -0.4])
    b1 = pd.DataFrame(
        {
            "a": [1.0, 2.0, np.nan, 4.0, 5.0, 6.0, 7.0],
            "b": [np.nan, 8.0, 9.0, np.nan, 1.0, 2.0, 3.0],
        },
        index=ts1,
    )
    ts2 = t0 + tick * np.array([1, 1, 2, 16384 * 5])
    b2 = pd.DataFrame(
        {"a": [np.nan, 11.0, 12.0, 13.0], "c": [14.0, np.nan, 15.0, 16.0]}, index=ts2
    )
    return [(b1, 0.0), (b2, 5.0)]


@pytest.mark.parametrize("freq", ["1s", "100ms"])
def test_write_df_stores_what_write_spark_df_stores(spark, tmp_path, freq):
    eng = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    eng.create_db("test")
    for s in ("drv", "spk"):
        eng.create_sensor("test", s, freq, ["a", "b"])
    tick = Grid.from_freq(freq).tick_seconds
    for batch, fill in _batches(1.7e9 + 0.3 * tick, tick):
        eng.write_df(
            "test", "drv", batch.set_axis(pd.to_datetime(batch.index, unit="s", utc=True)),
            fill_value=fill,
        )
        sdf = spark.createDataFrame(batch.rename_axis("ts_sec").reset_index())
        eng.write_spark_df("test", "spk", sdf, fill_value=fill)
    _assert_same_store(eng, "drv", "spk")


@pytest.mark.parametrize("freq", ["1s", "100ms"])
def test_write_points_stores_what_write_long_df_stores(spark, tmp_path, freq):
    eng = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    eng.create_db("test")
    for s in ("drv", "spk"):
        eng.create_sensor("test", s, freq, ["a"])
    tick = Grid.from_freq(freq).tick_seconds
    t0 = 1.7e9 + 0.1 * tick
    batches = [
        (
            [
                ("a", 1.0, t0),
                ("b", 2.0, t0 + 0.2 * tick),  # same cell, new metric
                ("a", 3.0, t0 + 0.4 * tick),  # duplicate cell: last wins
                ("a", float("nan"), t0 + 0.6 * tick),  # NaN never wins
                ("", 9.0, t0 + 4 * tick),  # empty name: an all-NaN row
                ("b", 4.0, t0 + 16384 * 2 * tick),
            ],
            0.0,
        ),
        ([("c", 5.0, t0), ("a", float("nan"), t0 + tick), ("b", 6.0, t0 - 3 * tick)], 7.0),
    ]
    for points, fill in batches:
        eng.write_points("test", "drv", points, fill_value=fill)
        long_df = spark.createDataFrame(points, "metric string, value double, ts_sec double")
        eng.write_long_df("test", "spk", long_df, fill_value=fill)
    _assert_same_store(eng, "drv", "spk")
    got = eng.read_pandas("test", "drv")
    assert len(got) == 5 and got.iloc[1].tolist() == [3.0, 2.0, 5.0]


def test_write_points_sends_one_row_per_line(spark, tmp_path, monkeypatch):
    """An influx line (or msgpack tuple) is a run of points sharing one
    timestamp; write_points sends it as ONE row, not one row per field,
    and stores what write_long_df stores."""
    eng = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    eng.create_db("test")
    for s in ("drv", "spk"):
        eng.create_sensor("test", s, "1s", ["a", "b"])
    t0 = 1.7e9 + 0.25
    nan = float("nan")
    points = [
        # one line: a NaN after a value keeps the value, a repeated
        # field takes the later value, an empty name adds nothing
        ("a", 1.0, t0), ("b", 2.0, t0), ("a", nan, t0), ("", 3.0, t0), ("b", 4.0, t0),
        ("a", 5.0, t0 + 0.5), ("b", nan, t0 + 0.5),  # same snapped ts: a later row
        ("", 6.0, t0 + 2),  # an empty-name-only line still makes its row
        ("b", 7.0, t0), ("c", 8.0, t0),  # the first timestamp again, a new metric
    ]
    sent = []
    real = OngTsdbSpark._driver_batch

    def counting(self, grid, ts_sec, values, names):
        sent.append(values.shape)
        return real(self, grid, ts_sec, values, names)

    monkeypatch.setattr(OngTsdbSpark, "_driver_batch", counting)
    eng.write_points("test", "drv", points)
    assert sent == [(4, 3)]
    long_df = spark.createDataFrame(points, "metric string, value double, ts_sec double")
    eng.write_long_df("test", "spk", long_df)
    _assert_same_store(eng, "drv", "spk")
    got = eng.read_pandas("test", "drv")
    assert len(got) == 2 and got.iloc[0].tolist() == [5.0, 7.0, 8.0]
    assert np.isnan(got.iloc[1].tolist()).all()
