"""Write->read round-trip semantics — the reference's own test oracle
(tests/test_client.py:93-112): a gridded pandas frame written and read
back must be equal (float32), time-ordered, with tz-aware index.
Also: last-wins upsert, partial-row merge, NaN invisibility, schema
growth fill, multiindex columns (tests/test_client.py:65-78,139-142,
172-206).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ong_tsdb_spark import OngTsdbSpark


@pytest.fixture()
def eng(spark, tmp_path):
    e = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    e.create_db("test")
    return e


def _mk_pdf(n=10, freq="1h", start="2023-01-02", metrics=("active", "reactive")):
    idx = pd.date_range(start, periods=n, freq=freq, tz="UTC")
    data = {m: np.arange(n, dtype="float64") + 10 * i for i, m in enumerate(metrics)}
    return pd.DataFrame(data, index=idx)


def test_roundtrip_equality(eng):
    eng.create_sensor("test", "s1h", "1h", ["active", "reactive"])
    pdf = _mk_pdf(10, "1h")
    eng.write_df("test", "s1h", pdf)
    out = eng.read_pandas("test", "s1h")
    assert out.equals(pdf.astype("float32"))


def test_roundtrip_multichunk(eng):
    # 1s sensor, 10-min spacing -> spans multiple 16384 s chunks
    # (tests/test_client.py:148-153 uses 10k points; keep 600 here)
    eng.create_sensor("test", "s1s", "1s", ["active", "reactive"])
    pdf = _mk_pdf(600, "10min")
    eng.write_df("test", "s1s", pdf)
    out = eng.read_pandas("test", "s1s")
    assert len(out) == 600
    assert out.equals(pdf.astype("float32"))


def test_write_layout_one_file_per_chunk_dir(eng):
    """The explicit-count repartition in the chunked write
    (optimization r14: repartition(n, chunk_start) instead of the
    advisory repartition(chunk_start) that AQE coalesced to one
    serial writer task) must preserve the storage contract: each
    chunk_start partition dir holds exactly ONE data file, on both
    the fresh-write and the merge (upsert) path."""
    import os

    eng.create_sensor("test", "slay", "1s", ["active", "reactive"])
    pdf = _mk_pdf(600, "10min")
    eng.write_df("test", "slay", pdf)

    data_dir = eng.catalog.data_path("test", "slay")

    def files_per_chunk():
        out = {}
        for d in os.listdir(data_dir):
            if not d.startswith("chunk_start="):
                continue
            parts = [p for p in os.listdir(os.path.join(data_dir, d))
                     if p.startswith("part-") and p.endswith(".parquet")]
            out[d] = len(parts)
        return out

    fresh = files_per_chunk()
    assert len(fresh) > 1  # genuinely multi-chunk
    assert set(fresh.values()) == {1}, fresh

    # upsert path (stored rows enter the fold)
    eng.write_df("test", "slay", pdf.iloc[:60])
    merged = files_per_chunk()
    assert set(merged.values()) == {1}, merged
    assert eng.read_pandas("test", "slay").equals(pdf.astype("float32"))


def test_written_files_sorted_by_ts(eng):
    """Every chunk file stores ts_sec strictly increasing, after a
    fresh write of shuffled rows and after a mid-chunk upsert.  The
    partitionBy write requires a chunk_start ordering and replaces a
    local sort that does not lead with it, so the write must sort by
    (chunk_start, ts_sec)."""
    import glob
    import os

    import pyarrow.parquet as pq

    eng.create_sensor("test", "ssort", "1s", ["a"])
    # 3 chunks x 4096 rows
    idx = pd.date_range("2023-01-02", periods=3 * 4096, freq="4s", tz="UTC")
    pdf = pd.DataFrame({"a": np.arange(len(idx), dtype="float64")}, index=idx)
    pdf = pdf.sample(frac=1.0, random_state=7)
    eng.write_df("test", "ssort", pdf)
    eng.write_df("test", "ssort", pdf.sort_index().iloc[5000:5100] + 1.0)

    files = glob.glob(os.path.join(
        eng.catalog.data_path("test", "ssort"), "chunk_start=*", "part-*.parquet"))
    assert len(files) >= 3
    for f in files:
        ts = pq.read_table(f, columns=["ts_sec"]).column("ts_sec").to_numpy()
        assert len(ts) > 0 and (np.diff(ts) > 0).all(), f
    out = eng.read_pandas("test", "ssort")
    expect = pdf.sort_index().astype("float32")
    expect.iloc[5000:5100] += 1.0
    assert out.equals(expect)


def test_upsert_releases_persisted_batch(eng, monkeypatch):
    """The upsert persists its normalized batch for the touched-chunk
    census and the fold; it must unpersist it after a commit AND after
    a failed write, and a failed write must release the sensor lock."""
    from pyspark.sql import DataFrameWriter

    jsc = eng.spark.sparkContext._jsc
    eng.create_sensor("test", "spers", "1h", ["a"])
    pdf = _mk_pdf(10, metrics=("a",))
    eng.write_df("test", "spers", pdf)

    before = jsc.getPersistentRDDs().size()
    eng.write_df("test", "spers", pdf.iloc[:3] + 1.0)
    assert jsc.getPersistentRDDs().size() == before

    def broken_parquet(self, *args, **kwargs):
        raise OSError("simulated write failure")

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", broken_parquet)
        with pytest.raises(OSError, match="simulated write failure"):
            eng.write_df("test", "spers", pdf.iloc[:3] + 2.0)
    assert jsc.getPersistentRDDs().size() == before
    assert not eng._sensor_lock("test", "spers").locked()

    # the lock file was released too: the next write commits
    eng.write_df("test", "spers", pdf.iloc[:3] + 3.0)
    expect = pdf.astype("float32")
    expect.iloc[:3] += 3.0
    assert eng.read_pandas("test", "spers").equals(expect)


def test_scan_memo_invalidated_on_write(eng):
    """The r15 per-sensor scan memo (plan + file-listing snapshot)
    must never serve a stale read: a cell upsert, a write that CREATES
    new chunk dirs (the cached listing wouldn't contain them), and
    schema growth must all invalidate; an untouched sensor hits the
    memo (same plan object)."""
    import numpy as np
    import pandas as pd

    eng.create_sensor("test", "memo", "1h", ["a"])
    pdf = _mk_pdf(600, "10min", metrics=("a",))
    eng.write_df("test", "memo", pdf)
    n0 = eng.read("test", "memo").count()
    cfg = eng.catalog.get_config("test", "memo")
    assert eng._read_raw("test", "memo", cfg) is eng._read_raw(
        "test", "memo", cfg
    )  # memo hit: identical plan object, no re-resolve

    # cell upsert (existing chunk dirs only) -> version bump -> fresh
    one = pdf.iloc[:1].copy()
    one["a"] = 123.5
    eng.write_df("test", "memo", one)
    assert eng.read_pandas("test", "memo")["a"].iloc[0] == np.float32(123.5)
    assert eng.read("test", "memo").count() == n0

    # a write that adds NEW chunk dirs: the stale listing would miss
    # the new partitions entirely
    idx = pd.date_range("2024-06-01", periods=48, freq="1h", tz="UTC")
    later = pd.DataFrame({"a": np.arange(48.0)}, index=idx)
    eng.write_df("test", "memo", later)
    assert eng.read("test", "memo").count() == n0 + 48

    # schema growth: new column must be visible immediately
    ts0 = float(pdf.index[0].timestamp())
    eng.write_points("test", "memo", [("b", 7.0, ts0)], fill_value=0.0)
    got = eng.read_pandas("test", "memo")
    assert got["b"].iloc[0] == np.float32(7.0)
    assert got["b"].iloc[1] == np.float32(0.0)


def test_read_iter_chunked(eng):
    """S3: chunk-by-chunk iteration — each yielded frame is one chunk
    partition, concatenation equals the one-shot read, driver memory
    bounded by chunk size (reference read_iter, database.py:579-666)."""
    eng.create_sensor("test", "sit", "1s", ["a"])
    # 10-min spacing over 600 points -> ~22 chunks of 16384 s
    pdf = _mk_pdf(600, "10min", metrics=("a",))
    eng.write_df("test", "sit", pdf)
    chunks = list(eng.read_iter("test", "sit",
                                start_ts=pdf.index[0].timestamp(),
                                end_ts=pdf.index[-1].timestamp()))
    assert len(chunks) > 1  # genuinely chunked
    starts = [c for c, _ in chunks]
    assert starts == sorted(starts)
    joined = pd.concat([f for _, f in chunks])
    assert joined.equals(eng.read_pandas("test", "sit"))
    # range restriction inside one chunk
    some = list(eng.read_iter("test", "sit",
                              start_ts=pdf.index[5].timestamp(),
                              end_ts=pdf.index[10].timestamp()))
    assert sum(len(f) for _, f in some) == 6


def test_read_iter_boundary_aligned_no_duplicates(eng):
    """Regression (round-2 ADVICE): dense 1 s data whose samples land
    EXACTLY on the 16384 s chunk boundary.  The old per-chunk clamp
    (c + duration - 1e-9) rounded back to the next chunk's start at
    epoch magnitudes (1e-9 < one float64 ULP), so every boundary sample
    was yielded twice.  Concatenation must equal the one-shot read."""
    eng.create_sensor("test", "sbd", "1s", ["a"])
    grid = eng.catalog.get_config("test", "sbd").grid
    boundary = grid.chunk_start(pd.Timestamp("2023-06-01", tz="UTC").timestamp())
    start = pd.to_datetime(boundary - 50, unit="s", utc=True)
    idx = pd.date_range(start, periods=120, freq="1s", tz="UTC")  # crosses boundary
    pdf = pd.DataFrame({"a": np.arange(120.0)}, index=idx)
    eng.write_df("test", "sbd", pdf)
    chunks = list(eng.read_iter("test", "sbd",
                                start_ts=idx[0].timestamp(),
                                end_ts=idx[-1].timestamp()))
    assert len(chunks) == 2  # genuinely crosses one boundary
    joined = pd.concat([f for _, f in chunks])
    assert not joined.index.duplicated().any()
    assert len(joined) == 120
    assert joined.equals(eng.read_pandas("test", "sbd"))


def test_object_store_catalog_roundtrip(spark, tmp_path):
    """ROADMAP #5: a scheme-qualified base dir routes the catalog
    through the Hadoop FileSystem API (here file:/, the same code path
    as hdfs://, s3a://, gs://): full lifecycle, upsert round trip,
    schema growth, lock+version protocol, retention partition drop."""
    from ong_tsdb_spark.object_store import HadoopCatalog

    base = "file:" + str(tmp_path / "objstore")
    e = OngTsdbSpark(spark, base)
    assert isinstance(e.catalog, HadoopCatalog)
    e.create_db("d")
    assert e.catalog.get_dbs() == ["d"]
    e.create_sensor("d", "s", "1h", ["a", "b"])
    assert e.catalog.get_sensors("d") == ["s"]
    pdf = _mk_pdf(10, "1h", metrics=("a", "b"))
    e.write_df("d", "s", pdf)
    out = e.read_pandas("d", "s")
    assert out.equals(pdf.astype("float32"))
    assert e.get_write_version("d", "s") == 1
    # upsert one cell; the other column's cell survives
    e.write_points("d", "s", [("a", 99.0, pdf.index[3].timestamp())])
    out2 = e.read_pandas("d", "s")
    assert out2.iloc[3]["a"] == 99.0 and out2.iloc[3]["b"] == pdf.iloc[3]["b"]
    assert e.get_write_version("d", "s") == 2
    # schema growth over the Hadoop-FS config write
    e.write_points("d", "s", [("c", 7.0, pdf.index[5].timestamp())], fill_value=0.0)
    out3 = e.read_pandas("d", "s")
    assert out3.iloc[0]["c"] == 0.0 and out3.iloc[5]["c"] == 7.0
    # retention drop via the catalog partition hooks
    from ong_tsdb_spark.plans.maintenance import apply_retention

    e2 = OngTsdbSpark(spark, base)  # fresh instance, same store
    assert e2.read_pandas("d", "s").equals(out3)
    dropped = apply_retention(e2, "d", "s", older_than_ts=pdf.index[0].timestamp())
    assert dropped == 0  # everything in one chunk at 1h grid
    e.delete_sensor("d", "s")
    assert not e.exist_sensor("d", "s")
    e.delete_db("d")
    assert not e.exist_db("d")


def test_hadoop_lock_protocol(spark, tmp_path):
    from ong_tsdb_spark.locks import SensorLockTimeout
    from ong_tsdb_spark.object_store import HadoopFs, HadoopSensorLock

    base = "file:" + str(tmp_path / "hl")
    fs = HadoopFs(spark, base)
    fs.mkdirs(base)
    a = HadoopSensorLock(fs, base, timeout=5.0)
    a.acquire()
    with pytest.raises(SensorLockTimeout):
        HadoopSensorLock(fs, base, timeout=0.3).acquire()
    a.release()
    b = HadoopSensorLock(fs, base, timeout=5.0)
    b.acquire()  # re-acquirable after release
    b.release()


def test_roundtrip_negative_timestamps(eng):
    """Pre-1970 rows: write-path floor partitioning and read-path
    pruning must agree (int() truncation would prune the wrong chunk
    and silently drop rows — ADVICE r1)."""
    eng.create_sensor("test", "sneg", "1h", ["a"])
    pdf = _mk_pdf(48, "1h", start="1969-12-30", metrics=("a",))
    eng.write_df("test", "sneg", pdf)
    out = eng.read_pandas(
        "test", "sneg", start_ts=pdf.index[0].timestamp(),
        end_ts=pdf.index[-1].timestamp(),
    )
    assert len(out) == 48
    assert out.equals(pdf.astype("float32"))


def test_range_read_start_end_inclusive(eng):
    eng.create_sensor("test", "s", "1h", ["a"])
    pdf = _mk_pdf(24, "1h", metrics=("a",))
    eng.write_df("test", "s", pdf)
    start = pdf.index[5].timestamp()
    end = pdf.index[10].timestamp()
    out = eng.read_pandas("test", "s", start_ts=start, end_ts=end)
    assert len(out) == 6  # inclusive both ends
    assert out.index[0] == pdf.index[5]
    assert out.index[-1] == pdf.index[10]


def test_snap_to_grid(eng):
    # off-grid write timestamps are truncated to the tick grid
    eng.create_sensor("test", "s15m", "15m", ["a"])
    idx = pd.DatetimeIndex(["2023-01-02 00:07:31", "2023-01-02 00:16:00"], tz="UTC")
    pdf = pd.DataFrame({"a": [1.0, 2.0]}, index=idx)
    eng.write_df("test", "s15m", pdf)
    out = eng.read_pandas("test", "s15m")
    assert list(out.index) == list(
        pd.DatetimeIndex(["2023-01-02 00:00:00", "2023-01-02 00:15:00"], tz="UTC")
    )


def test_last_write_wins(eng):
    eng.create_sensor("test", "s", "1s", ["a"])
    idx = pd.DatetimeIndex(["2023-01-02 00:00:00"] , tz="UTC")
    eng.write_df("test", "s", pd.DataFrame({"a": [1.0]}, index=idx))
    eng.write_df("test", "s", pd.DataFrame({"a": [2.0]}, index=idx))
    out = eng.read_pandas("test", "s")
    assert out["a"].tolist() == [2.0]


def test_last_write_wins_within_batch(eng):
    eng.create_sensor("test", "s", "1s", ["a"])
    ts = 1672617600.0
    eng.write_points("test", "s", [("a", 1.0, ts), ("a", 2.0, ts), ("a", 3.0, ts)])
    out = eng.read_pandas("test", "s")
    assert out["a"].tolist() == [3.0]


def test_partial_rows_merge_cellwise(eng):
    # write active-only then reactive-only at the same ts -> one row
    # with both cells (tests/test_client.py:65-70)
    eng.create_sensor("test", "s", "1s", ["active", "reactive"])
    ts = 1672617600.0
    eng.write_points("test", "s", [("active", 11.0, ts)])
    eng.write_points("test", "s", [("reactive", 12.0, ts)])
    out = eng.read_pandas("test", "s")
    assert len(out) == 1
    assert out["active"].tolist() == [11.0]
    assert out["reactive"].tolist() == [12.0]


def test_unwritten_cell_is_nan(eng):
    eng.create_sensor("test", "s", "1s", ["active", "reactive"])
    ts = 1672617600.0
    eng.write_points("test", "s", [("active", 11.0, ts)])
    out = eng.read_pandas("test", "s")
    assert np.isnan(out["reactive"].iloc[0])


def test_nan_input_does_not_overwrite(eng):
    # the reference scatters only non-NaN inputs (database.py:480-483)
    eng.create_sensor("test", "s", "1s", ["a"])
    ts = 1672617600.0
    eng.write_points("test", "s", [("a", 5.0, ts)])
    idx = pd.DatetimeIndex([pd.Timestamp(ts, unit="s", tz="UTC")])
    eng.write_df("test", "s", pd.DataFrame({"a": [np.nan]}, index=idx))
    out = eng.read_pandas("test", "s")
    assert out["a"].tolist() == [5.0]


def test_schema_growth_fill_zero(eng):
    # new metric mid-stream: pre-existing rows read the fill value (0
    # default), new rows get real values (database.py:366-423)
    eng.create_sensor("test", "s", "1h", ["active"])
    pdf = _mk_pdf(3, "1h", metrics=("active",))
    eng.write_df("test", "s", pdf)
    ts_new = pdf.index[-1] + pd.Timedelta(hours=1)
    eng.write_points("test", "s", [("nueva", 9.0, ts_new.timestamp())], fill_value=0)
    out = eng.read_pandas("test", "s")
    assert eng.get_metrics("test", "s") == ["active", "nueva"]
    assert out["nueva"].tolist()[:3] == [0.0, 0.0, 0.0]
    assert out["nueva"].iloc[3] == 9.0
    # the new row never wrote 'active' -> NaN cell
    assert np.isnan(out["active"].iloc[3])


def test_schema_growth_fill_nan(eng):
    eng.create_sensor("test", "s", "1h", ["active"])
    pdf = _mk_pdf(2, "1h", metrics=("active",))
    eng.write_df("test", "s", pdf)
    ts_new = pdf.index[-1] + pd.Timedelta(hours=1)
    eng.write_points(
        "test", "s", [("nueva", 9.0, ts_new.timestamp())], fill_value=float("nan")
    )
    out = eng.read_pandas("test", "s")
    assert np.isnan(out["nueva"].iloc[0]) and np.isnan(out["nueva"].iloc[1])
    assert out["nueva"].iloc[2] == 9.0


def test_metric_projection(eng):
    eng.create_sensor("test", "s", "1h", ["a", "b", "c"])
    pdf = _mk_pdf(4, "1h", metrics=("a", "b", "c"))
    eng.write_df("test", "s", pdf)
    out = eng.read_pandas("test", "s", metrics=["b"])
    assert list(out.columns) == ["b"]
    assert out["b"].tolist() == pdf["b"].astype("float32").tolist()


def test_multiindex_metrics(eng):
    # list-of-list metric names + level_names metadata
    # (tests/test_client.py:172-206)
    metrics = [["A", "B", "C"], ["D", "E", "F"]]
    eng.create_sensor(
        "test", "meta", "1d", metrics, metadata={"level_names": ["one", "two", "three"]}
    )
    idx = pd.DatetimeIndex(["2023-01-02"], tz="UTC")
    cols = pd.MultiIndex.from_tuples(
        [("A", "B", "C"), ("D", "E", "F")], names=["one", "two", "three"]
    )
    pdf = pd.DataFrame([[1.0, 2.0]], index=idx, columns=cols)
    eng.write_df("test", "meta", pdf)
    out = eng.read_pandas("test", "meta")
    assert isinstance(out.columns, pd.MultiIndex)
    assert out.columns.names == ["one", "two", "three"]
    assert out.equals(pdf.astype("float32"))
    # metadata mutation (M4)
    eng.update_metadata("test", "meta", {"level_names": ["X", "Y", "Z"]})
    out2 = eng.read_pandas("test", "meta")
    assert out2.columns.names == ["X", "Y", "Z"]


def test_last_timestamp(eng):
    eng.create_sensor("test", "s", "1h", ["a"])
    pdf = _mk_pdf(5, "1h", metrics=("a",))
    eng.write_df("test", "s", pdf)
    assert eng.get_last_timestamp("test", "s") == pdf.index[-1].timestamp()


def test_lifecycle(eng):
    from ong_tsdb_spark.catalog import ElementAlreadyExistsError, ElementNotFoundError

    assert eng.exist_db("test")
    with pytest.raises(ElementAlreadyExistsError):
        eng.create_db("test")
    eng.create_sensor("test", "s", "1s", ["m"])
    assert eng.exist_sensor("test", "s")
    with pytest.raises(ElementAlreadyExistsError):
        eng.create_sensor("test", "s", "1s", ["m"])
    eng.delete_sensor("test", "s")
    assert not eng.exist_sensor("test", "s")
    with pytest.raises(ElementNotFoundError):
        eng.delete_sensor("test", "s")


def test_roundtrip_subsecond_grid(eng):
    """Fractional tick (0.5 s): chunk_start partition values are
    doubles — the catalog-derived read schema must type the partition
    column accordingly and round-trip exactly (the DoubleType branch
    of _read_raw)."""
    eng.create_sensor("test", "fast", "0.5s", ["v"])
    t0 = 1672617600.0
    ts = [t0 + 0.5 * i for i in range(10000)]  # spans >1 chunk (8192 ticks)
    import pandas as pd

    idx = pd.to_datetime([t * 1e9 for t in ts], utc=True)
    eng.write_df("test", "fast", pd.DataFrame({"v": np.arange(10000.0)}, index=idx))
    out = eng.read_pandas("test", "fast")
    assert len(out) == 10000
    assert out["v"].iloc[0] == 0.0 and out["v"].iloc[-1] == 9999.0
    assert out.index[1].timestamp() - out.index[0].timestamp() == 0.5
    # pruned range read across the sub-second chunk boundary
    mid = eng.read_pandas("test", "fast", start_ts=t0 + 4095.5, end_ts=t0 + 4096.5)
    assert len(mid) == 3
    assert eng.get_last_timestamp("test", "fast") == ts[-1]


def test_fast_read_path_equals_spark_path(spark, tmp_path):
    """The pyarrow serving fast path must be byte-identical to the
    Spark read path on the hard semantics: schema growth (absent
    column -> fill), stored never-written-cell NaN (must stay NaN,
    not get filled), metric selection, unknown metric, and window
    clipping — and it must actually ENGAGE (no silent fallback)."""
    import numpy as np
    import pandas as pd

    from ong_tsdb_spark import OngTsdbSpark

    eng = OngTsdbSpark(spark, str(tmp_path / "fastdb"))
    eng.create_db("d")
    eng.create_sensor("d", "s", "1s", ["a"])
    idx = pd.date_range("2024-01-01", periods=500, freq="30s", tz="UTC")
    eng.write_df("d", "s", pd.DataFrame({"a": np.arange(500.0)}, index=idx))
    # schema growth with a non-default fill; b absent from old chunks
    eng.write_df(
        "d", "s",
        pd.DataFrame({"b": [7.0, np.nan]}, index=idx[100:102]),
        fill_value=3.5,
    )

    lo, hi = idx[0].timestamp(), idx[499].timestamp()
    windows = [
        (lo, hi), (lo + 3600, lo + 7200), (None, None),
        (lo, lo), (hi + 1, hi + 2),
    ]
    sels = [None, ["a"], ["b"], ["a", "b"]]
    for s_ts, e_ts in windows:
        for sel in sels:
            fast = eng.read_pandas("d", "s", s_ts, e_ts, metrics=sel)
            # force the Spark path by making the chunk budget zero
            old = eng.FAST_READ_MAX_CHUNKS
            eng.FAST_READ_MAX_CHUNKS = -1
            try:
                slow = eng.read_pandas("d", "s", s_ts, e_ts, metrics=sel)
            finally:
                eng.FAST_READ_MAX_CHUNKS = old
            pd.testing.assert_frame_equal(fast, slow)
    # untouched cells of a filled metric read the fill — in the
    # REWRITTEN chunk the write path materializes it into storage, in
    # pre-growth chunks the absent column coalesces to it at read
    # (which is the branch the fast path must replicate per file)
    got = eng.read_pandas("d", "s", idx[101].timestamp(), idx[101].timestamp())
    assert float(got["b"].iloc[0]) == np.float32(3.5)
    got = eng.read_pandas("d", "s", idx[0].timestamp(), idx[0].timestamp())
    assert float(got["b"].iloc[0]) == np.float32(3.5)
    # engagement: the fast path must serve without a Spark job —
    # verify by reading with the Spark scheduler effectively probed
    # via timing (a Spark job here costs ~0.3s+; pyarrow ~ms)
    import time

    t0 = time.perf_counter()
    eng.read_pandas("d", "s", lo, lo + 3600)
    assert time.perf_counter() - t0 < 0.25, "fast path did not engage"


def test_fast_last_timestamp_uses_stats(spark, tmp_path):
    import time

    import numpy as np
    import pandas as pd

    from ong_tsdb_spark import OngTsdbSpark

    eng = OngTsdbSpark(spark, str(tmp_path / "fastlt"))
    eng.create_db("d")
    eng.create_sensor("d", "s", "1s", ["a"])
    idx = pd.date_range("2024-01-01", periods=1000, freq="17s", tz="UTC")
    eng.write_df("d", "s", pd.DataFrame({"a": np.arange(1000.0)}, index=idx))
    want = idx[-1].timestamp()
    t0 = time.perf_counter()
    got = eng.get_last_timestamp("d", "s")
    dt = time.perf_counter() - t0
    assert got == want
    assert dt < 0.25, f"stats fast path did not engage ({dt:.3f}s)"


def test_local_data_dir_resolves_file_uri_forms(spark, tmp_path):
    """A file:-schemed catalog base (single-slash Hadoop-normalized
    included) must still reach the pyarrow serve fast path — the old
    '://' test returned None for file:/p and silently downgraded every
    read to the Spark path (ADVICE r13 twin of the dedup lock miss)."""
    import numpy as np
    import pandas as pd

    from ong_tsdb_spark import OngTsdbSpark

    base = str(tmp_path / "uridb")
    eng = OngTsdbSpark(spark, f"file:{base}")
    eng.create_db("d")
    eng.create_sensor("d", "s", "1s", ["a"])
    idx = pd.date_range("2024-01-01", periods=50, freq="30s", tz="UTC")
    eng.write_df("d", "s", pd.DataFrame({"a": np.arange(50.0)}, index=idx))

    local = eng._local_data_dir("d", "s")
    assert local is not None and local.startswith("/"), local
    got = eng.read_pandas("d", "s", idx[0].timestamp(), idx[-1].timestamp())
    assert len(got) == 50
    assert float(got["a"].iloc[-1]) == 49.0

    # triple-slash spelling resolves to the same directory
    eng3 = OngTsdbSpark(spark, f"file://{base}")
    assert eng3._local_data_dir("d", "s") == local
