"""Concurrency + volume parity with the reference's hardest tests:
4 concurrent writers with a schema extender and a post-hoc audit
(tests/test_database.py:141-207), and the 10,000-point multi-chunk
round trip (tests/test_client.py:148-153).
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
import pytest

from ong_tsdb_spark import OngTsdbSpark
from ong_tsdb_spark.plans import maintenance


@pytest.fixture()
def eng(spark, tmp_path):
    e = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    e.create_db("d")
    return e


def test_concurrent_writers_with_schema_extension(eng):
    eng.create_sensor("d", "s", "1s", ["m0"])
    base = 1672617600
    errors: list[Exception] = []

    def writer(thread_id: int) -> None:
        try:
            for batch in range(3):
                # each thread owns a disjoint ts range; thread 2 also
                # introduces a new metric mid-stream (the extender)
                metric = "m0" if thread_id != 2 or batch == 0 else f"m{thread_id}"
                pts = [
                    (metric, float(thread_id * 1000 + batch), float(base + thread_id * 100 + batch * 10 + i))
                    for i in range(5)
                ]
                eng.write_points("d", "s", pts)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # audit: every written cell holds the last value written to it and
    # the dataset has no duplicate or off-grid rows
    st = maintenance.verify_sensor(eng, "d", "s")
    assert st.duplicate_ts == 0 and st.off_grid == 0
    assert st.n_rows == 4 * 3 * 5
    out = eng.read_pandas("d", "s")
    assert "m2" in out.columns  # extender's metric arrived
    # thread 0 batch 2 wrote value 2.0 at base+20..base+24 in m0
    row = out.loc[pd.Timestamp(base + 20, unit="s", tz="UTC")]
    assert row["m0"] == 2.0


@pytest.mark.slow
def _locked_increment_worker(sensor_dir: str, counter: str, n_iters: int) -> None:
    """Module-level so multiprocessing 'spawn' can pickle it."""
    from ong_tsdb_spark.locks import SensorFileLock

    for _ in range(n_iters):
        with SensorFileLock(sensor_dir, timeout=30.0):
            with open(counter) as f:
                v = int(f.read())
            with open(counter, "w") as f:
                f.write(str(v + 1))


def test_file_lock_cross_process_mutual_exclusion(tmp_path):
    """ROADMAP #2 lock protocol, proven across real OS processes: N
    processes do lock-protected read-modify-write on one counter file;
    every increment must survive (lost updates would show a lower
    final count).  No Spark involved — this pins the O_EXCL mutex."""
    import multiprocessing as mp
    import os

    sensor_dir = str(tmp_path / "sensor")
    counter = str(tmp_path / "counter.txt")
    os.makedirs(sensor_dir)
    with open(counter, "w") as f:
        f.write("0")

    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_locked_increment_worker, args=(sensor_dir, counter, 25))
        for _ in range(4)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
    assert all(p.exitcode == 0 for p in procs)
    with open(counter) as f:
        assert int(f.read()) == 100


# -- the writer-lock protocol, on both filesystem adapters -----------
# Each case takes (adapter, sensor dir).  The local tests below run
# them over LocalFs; test_hadoop_lock_protocol runs the same cases over
# HadoopFs on a file: URI.  Hadoop's file: filesystem keeps a .crc
# sidecar per file, so the cases age and replace the lockfile through
# the adapter (or FileSystem.setTimes), never through os.


def _local_sensor_dir(tmp_path):
    import os

    from ong_tsdb_spark.object_store import LocalFs

    d = str(tmp_path / "s")
    os.makedirs(d)
    return LocalFs(), d


def _hadoop_sensor_dir(spark, tmp_path):
    from ong_tsdb_spark.object_store import HadoopFs

    d = "file:" + str(tmp_path / "s")
    fs = HadoopFs(spark, d)
    fs.mkdirs(d)
    return fs, d


def _set_mtime(fs, path: str, t: float) -> None:
    import os

    from ong_tsdb_spark.object_store import HadoopFs

    if isinstance(fs, HadoopFs):
        fs._fs.setTimes(fs.path(path), int(t * 1000), -1)
    else:
        os.utime(path, (t, t))


def _stop_heartbeat(lock) -> None:
    """Silence a holder like a paused VM (the lock stays on disk)."""
    if lock._hb_stop is not None:
        lock._hb_stop.set()
        lock._hb_thread.join(timeout=2.0)
        lock._hb_stop = lock._hb_thread = None


def _stale_lock_is_broken(fs, sensor_dir):
    import time

    from ong_tsdb_spark.locks import SensorFileLock, SensorLockTimeout

    # a crashed writer left a lock; age it past stale_after
    stale = SensorFileLock(sensor_dir, fs=fs)
    stale.acquire()
    _stop_heartbeat(stale)
    _set_mtime(fs, stale.path, time.time() - 1000)
    lk = SensorFileLock(sensor_dir, timeout=5.0, stale_after=300.0, fs=fs)
    lk.acquire()  # breaks the stale lock instead of timing out
    lk.release()
    # a FRESH foreign lock is respected -> timeout
    fresh = SensorFileLock(sensor_dir, fs=fs)
    fresh.acquire()
    with pytest.raises(SensorLockTimeout):
        SensorFileLock(sensor_dir, timeout=0.3, fs=fs).acquire()
    fresh.release()
    again = SensorFileLock(sensor_dir, timeout=5.0, fs=fs)
    again.acquire()  # re-acquirable after release
    again.release()


def _heartbeat_keeps_long_write_alive(fs, sensor_dir):
    """Round-2 ADVICE: a LIVE holder whose write outlasts stale_after
    must not have its lock broken — the holder heartbeats (touches the
    lockfile), so waiters always see a fresh mtime."""
    import time

    from ong_tsdb_spark.locks import SensorFileLock, SensorLockTimeout

    holder = SensorFileLock(sensor_dir, stale_after=1.0, fs=fs)  # heartbeat ~0.25s
    holder.acquire()
    time.sleep(2.5)  # well past stale_after in wall-clock age
    # the lock was ACQUIRED > stale_after ago, but heartbeats keep the
    # mtime fresh: the waiter must time out, not break it
    with pytest.raises(SensorLockTimeout):
        SensorFileLock(sensor_dir, timeout=1.5, stale_after=1.0, fs=fs).acquire()
    holder.release()


def _stale_break_spares_recreated_lock(fs, sensor_dir):
    """The waiter remembers the (payload, mtime) it saw stale and only
    deletes on a second identical sighting — a lock re-created by a
    different process between polls (new payload) survives."""
    import posixpath

    from ong_tsdb_spark.locks import LOCK_NAME, SensorFileLock

    lockfile = posixpath.join(sensor_dir, LOCK_NAME)
    assert fs.create_exclusive(lockfile, b"999 1.0\n")
    _set_mtime(fs, lockfile, 1.0)
    waiter = SensorFileLock(sensor_dir, timeout=5.0, stale_after=300.0, fs=fs)
    waiter._maybe_break_stale()  # first sighting: records, must NOT delete
    assert fs.exists(lockfile)
    # another process breaks + re-creates the lock between our polls
    fs.delete(lockfile, recursive=False)
    assert fs.create_exclusive(lockfile, b"1000 2.0\n")
    _set_mtime(fs, lockfile, 1.0)  # even if its mtime looks stale too
    waiter._maybe_break_stale()  # different payload -> new first sighting
    assert fs.exists(lockfile)
    waiter._maybe_break_stale()  # second identical sighting -> break
    assert not fs.exists(lockfile)


def _lock_release_checks_ownership(fs, sensor_dir):
    """Code-review r9: a holder whose lock was stale-broken (VM pause
    past the horizon) must NOT delete the NEW holder's lock on resume
    — release only deletes the file when its payload is our own; the
    heartbeat likewise stands down on a foreign payload."""
    from ong_tsdb_spark.locks import SensorFileLock

    a = SensorFileLock(sensor_dir, stale_after=300.0, fs=fs)
    a.acquire()
    # simulate the stale break + re-acquire while A is 'paused'
    _stop_heartbeat(a)
    fs.delete(a.path, recursive=False)
    b = SensorFileLock(sensor_dir, stale_after=300.0, fs=fs)
    b.acquire()
    b_payload = fs.read_bytes(b.path)
    # A resumes and releases: B's lock must survive
    a.release()
    assert fs.exists(b.path), "resumed stale holder deleted B's lock"
    assert fs.read_bytes(b.path) == b_payload
    # B's own release still works
    b.release()
    assert not fs.exists(b.path)


def _lock_release_missing_file(fs, sensor_dir):
    from ong_tsdb_spark.locks import SensorFileLock

    a = SensorFileLock(sensor_dir, stale_after=300.0, fs=fs)
    a.acquire()
    fs.delete(a.path, recursive=False)
    a.release()


_LOCK_CASES = [
    _stale_lock_is_broken,
    _heartbeat_keeps_long_write_alive,
    _stale_break_spares_recreated_lock,
    _lock_release_checks_ownership,
    _lock_release_missing_file,
]


def test_stale_lock_is_broken(tmp_path):
    _stale_lock_is_broken(*_local_sensor_dir(tmp_path))


def test_heartbeat_keeps_long_write_alive(tmp_path):
    _heartbeat_keeps_long_write_alive(*_local_sensor_dir(tmp_path))


def test_stale_break_spares_recreated_lock(tmp_path):
    _stale_break_spares_recreated_lock(*_local_sensor_dir(tmp_path))


def test_lock_release_checks_ownership(tmp_path):
    _lock_release_checks_ownership(*_local_sensor_dir(tmp_path))


def test_lock_release_missing_file_is_silent(tmp_path, caplog):
    """The benign already-gone case stays log-free."""
    import logging

    with caplog.at_level(logging.WARNING, logger="ong_tsdb_spark.locks"):
        _lock_release_missing_file(*_local_sensor_dir(tmp_path))
    assert not caplog.records


@pytest.mark.parametrize("case", _LOCK_CASES, ids=lambda c: c.__name__.strip("_"))
def test_hadoop_lock_protocol(spark, tmp_path, caplog, case):
    """The same lock cases over HadoopFs on a file: URI — the adapter
    a hdfs:// or s3a:// catalog uses.  None of them logs a warning."""
    import logging

    with caplog.at_level(logging.WARNING, logger="ong_tsdb_spark.locks"):
        case(*_hadoop_sensor_dir(spark, tmp_path))
    assert not caplog.records


def test_two_engine_instances_serialize_writes(spark, tmp_path):
    """Two engine INSTANCES (separate thread-lock registries — the
    in-process lock cannot serialize them, exactly like two driver
    processes) upsert interleaved batches to one sensor.  The file
    lock must serialize the read-merge-overwrite cycles: every row
    from both writers survives, and the write version counts every
    commit."""
    base_dir = str(tmp_path / "shared")
    e1 = OngTsdbSpark(spark, base_dir)
    e2 = OngTsdbSpark(spark, base_dir)
    e1.create_db("d")
    e1.create_sensor("d", "s", "1s", ["v"])
    base = 1672617600
    errors: list[Exception] = []

    def writer(engine: OngTsdbSpark, offset: int) -> None:
        try:
            for batch in range(4):
                pts = [
                    ("v", float(offset + batch * 10 + i), float(base + offset + batch * 10 + i))
                    for i in range(5)
                ]
                engine.write_points("d", "s", pts)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(e1, 0))
    t2 = threading.Thread(target=writer, args=(e2, 1000))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    out = e1.read_pandas("d", "s")
    assert len(out) == 40  # 2 writers x 4 batches x 5 points, none lost
    assert e1.get_write_version("d", "s") == 8  # one bump per commit


def test_10k_point_round_trip(eng):
    # the reference's largest workload: 10k points, 10-min spacing,
    # 1 s sensor -> ~366 chunks (tests/test_client.py:148-153)
    eng.create_sensor("d", "big", "1s", ["active", "reactive"])
    idx = pd.date_range("2023-01-02", periods=10_000, freq="10min", tz="UTC")
    pdf = pd.DataFrame(
        {"active": np.arange(10_000.0), "reactive": np.arange(10_000.0) * 2},
        index=idx,
    )
    eng.write_df("d", "big", pdf)
    out = eng.read_pandas("d", "big")
    assert out.equals(pdf.astype("float32"))
    assert eng.get_last_timestamp("d", "big") == idx[-1].timestamp()
    # range read in the middle, still pruned + exact
    mid = eng.read_pandas(
        "d", "big", start_ts=idx[5000].timestamp(), end_ts=idx[5100].timestamp()
    )
    assert len(mid) == 101
    assert mid["active"].iloc[0] == 5000.0


def test_catalog_rejects_path_alias_names(tmp_path, spark):
    """Code-review r9: '.' and '..' matched _SAFE_NAME, so
    delete_db('..') would rmtree the PARENT of the catalog root. Pure
    -dot names must be invalid; dotted names stay fine."""
    import pytest as _pytest

    from ong_tsdb_spark import OngTsdbSpark

    eng = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    for bad in (".", "..", "..."):
        with _pytest.raises(ValueError):
            eng.create_db(bad)
        with _pytest.raises(ValueError):
            eng.delete_db(bad)
    eng.create_db("ok.v2")  # interior dots remain legal
    assert eng.exist_db("ok.v2")


def test_create_sensor_rejects_reserved_metric_names(tmp_path, spark):
    """Code-review r9: metrics named after the storage columns
    (ts_sec, chunk_start) would be silently clobbered/dropped by the
    write path — reject at config-write time."""
    import pytest as _pytest

    from ong_tsdb_spark import OngTsdbSpark

    eng = OngTsdbSpark(spark, str(tmp_path / "tsdb2"))
    eng.create_db("d")
    for bad in (["chunk_start"], ["v", "ts_sec"]):
        with _pytest.raises(ValueError, match="reserved"):
            eng.create_sensor("d", "s", "1s", bad)
    eng.create_sensor("d", "s", "1s", ["v"])  # sane names still fine


def test_lock_release_unreadable_file_never_raises(tmp_path, caplog):
    """ADVICE r9: an ownership-read failure other than FileNotFoundError
    (EACCES, transient FS error) must not escape release()/__exit__ —
    it would mask the with-block's real exception — and must not delete
    a lock we cannot prove is ours.  Simulated by replacing the
    lockfile with a directory (open() -> IsADirectoryError).  The
    signal is a LOG record, not warnings.warn — a -W error process
    would turn the warn itself into the raise this path must never
    produce (code-review r10)."""
    import logging
    import os

    from ong_tsdb_spark.locks import SensorFileLock

    a = SensorFileLock(str(tmp_path), stale_after=300.0)
    a.acquire()
    os.unlink(a.path)
    os.mkdir(a.path)  # unreadable as a file
    with caplog.at_level(logging.WARNING, logger="ong_tsdb_spark.locks"):
        a.release()  # must not raise
    assert any("could not read" in r.getMessage() for r in caplog.records)
    assert os.path.isdir(a.path), "release deleted a lock it could not verify"
    os.rmdir(a.path)
