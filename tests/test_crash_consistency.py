"""Crash simulation for the upsert write path — the Spark twin of the
reference's atomic-write crash tests (tests/test_fileutils.py:297-357:
interrupted ``safe_createfile`` leaves the old chunk readable and a
stale ``.tmp`` that the next write cleans up).

Our commit protocol is Spark's task-commit (staging under
``_temporary`` + rename at job commit) with per-write dynamic
partition overwrite, so the equivalent contracts are:

1. a write job that DIES mid-flight (executor failure) leaves the old
   data byte-readable — dynamic overwrite deletes nothing before job
   commit — the lock released, and the engine retryable;
2. a crash AFTER job commit but BEFORE the version bump leaves the
   data committed and the same write idempotently re-runnable;
3. staging debris from a crashed writer (``_temporary``, dot-tmp
   files) is invisible to readers and to later writes;
4. an upsert touching chunk B never rewrites chunk A's files, so a
   crashed B-write cannot damage A (the blast radius is the touched
   partition, exactly the reference's one-chunk-at-a-time guarantee).
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pandas as pd
import pytest

from ong_tsdb_spark import OngTsdbSpark


@pytest.fixture()
def eng(spark, tmp_path):
    e = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    e.create_db("test")
    return e


def _mk_pdf(n=10, freq="1h", start="2023-01-02", metrics=("active",)):
    idx = pd.date_range(start, periods=n, freq=freq, tz="UTC")
    data = {m: np.arange(n, dtype="float64") + 10 * i for i, m in enumerate(metrics)}
    return pd.DataFrame(data, index=idx)


def _dir_digest(path: str) -> dict[str, str]:
    """relative-path -> sha256 for every visible file under path."""
    out = {}
    for p in glob.glob(os.path.join(path, "**", "*"), recursive=True):
        base = os.path.basename(p)
        if os.path.isfile(p) and not base.startswith(("_", ".")):
            rel = os.path.relpath(p, path)
            out[rel] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return out


def test_aborted_write_job_leaves_old_data_intact(eng, spark):
    """Contract 1: poison a batch so the write JOB fails in-flight
    (the executor-crash shape); the stored data must remain exactly
    the pre-write bytes, the lock must be released, and a clean retry
    must succeed."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    eng.create_sensor("test", "s1", "1h", ["active"])
    pdf = _mk_pdf(10)
    eng.write_df("test", "s1", pdf)
    data_path = eng.catalog.data_path("test", "s1")
    before = _dir_digest(data_path)
    assert before  # sanity: something was written

    @pandas_udf("double")
    def poison(v: pd.Series) -> pd.Series:
        raise RuntimeError("simulated executor crash")

    bad = spark.range(5).select(
        (F.lit(1672617600.0) + F.col("id") * 3600.0).alias("ts_sec"),
        poison(F.col("id").cast("double")).alias("active"),
    )
    with pytest.raises(Exception, match="simulated executor crash|Job aborted"):
        eng.write_spark_df("test", "s1", bad)

    # old data byte-identical — dynamic overwrite deleted nothing
    assert _dir_digest(data_path) == before
    out = eng.read_pandas("test", "s1")
    assert out["active"].tolist() == pdf["active"].astype("float32").tolist()

    # lock released: a clean retry writes through
    pdf2 = _mk_pdf(10, start="2023-01-03")
    eng.write_df("test", "s1", pdf2)
    assert len(eng.read_pandas("test", "s1")) == 20


def test_crash_between_commit_and_version_bump(eng, monkeypatch):
    """Contract 2: the version bump is the LAST step; dying on it must
    leave the committed data readable and the identical write
    re-runnable (idempotent last-wins upsert)."""
    eng.create_sensor("test", "s2", "1h", ["active"])
    pdf = _mk_pdf(10)

    real_bump = eng.catalog.bump_version
    calls = {"n": 0}

    def dying_bump(db, sensor):
        calls["n"] += 1
        raise OSError("simulated crash before version bump")

    monkeypatch.setattr(eng.catalog, "bump_version", dying_bump)
    with pytest.raises(OSError, match="simulated crash"):
        eng.write_df("test", "s2", pdf)
    assert calls["n"] == 1

    # the data job committed before the crash point
    out = eng.read_pandas("test", "s2")
    assert out.equals(pdf.astype("float32"))

    # recovery: rerun the SAME write with the bump restored
    monkeypatch.setattr(eng.catalog, "bump_version", real_bump)
    eng.write_df("test", "s2", pdf)
    out = eng.read_pandas("test", "s2")
    assert out.equals(pdf.astype("float32"))


def test_staging_debris_invisible_to_readers_and_writers(eng):
    """Contract 3: ``_temporary`` trees and dot-tmp files from a
    crashed writer must not corrupt reads (Spark data discovery skips
    ``_``/``.`` names) nor block later writes."""
    eng.create_sensor("test", "s3", "1h", ["active"])
    pdf = _mk_pdf(10)
    eng.write_df("test", "s3", pdf)
    data_path = eng.catalog.data_path("test", "s3")

    tmp_tree = os.path.join(data_path, "_temporary", "0", "task_000")
    os.makedirs(tmp_tree)
    with open(os.path.join(tmp_tree, "part-crashed.parquet"), "wb") as f:
        f.write(b"\x00garbage not parquet")
    part_dir = glob.glob(os.path.join(data_path, "chunk_start=*"))[0]
    with open(os.path.join(part_dir, ".part-crashed.parquet.tmp"), "wb") as f:
        f.write(b"\x00more garbage")

    out = eng.read_pandas("test", "s3")
    assert out.equals(pdf.astype("float32"))

    # a subsequent upsert through the same dirs still works
    pdf2 = _mk_pdf(4, start="2023-01-02", metrics=("active",)) + 100.0
    eng.write_df("test", "s3", pdf2)
    out = eng.read_pandas("test", "s3")
    assert len(out) == 10
    assert out["active"].iloc[0] == np.float32(100.0)  # upsert won


def test_untouched_chunk_files_never_rewritten(eng):
    """Contract 4: an upsert whose batch touches only chunk B leaves
    chunk A's files BYTE-identical — the dynamic-overwrite blast
    radius is the touched partition, so a crashed B-write cannot
    damage A."""
    eng.create_sensor("test", "s4", "1s", ["active"])
    # 10-min spacing spans multiple 16384-s chunks
    pdf = _mk_pdf(60, "10min")
    eng.write_df("test", "s4", pdf)
    data_path = eng.catalog.data_path("test", "s4")
    parts = sorted(glob.glob(os.path.join(data_path, "chunk_start=*")))
    assert len(parts) >= 2
    first_before = _dir_digest(parts[0])

    # rewrite only the LAST timestamp (deepest chunk)
    late = pdf.iloc[[-1]] + 5.0
    eng.write_df("test", "s4", late)

    assert _dir_digest(parts[0]) == first_before
    out = eng.read_pandas("test", "s4")
    assert out["active"].iloc[-1] == np.float32(pdf["active"].iloc[-1] + 5.0)


def test_killed_merge_while_other_sensor_writes(spark, tmp_path):
    """Kill one writer mid-merge while a second
    writer holds a DIFFERENT sensor of the same database — both
    sensors must verify clean afterward.  Locks are per-sensor
    (reference test_database.py:141-207 runs its writers against one
    OngTSDB instance the same way), so the doomed merge must neither
    block nor damage the neighbour, and its own sensor must keep the
    pre-crash bytes and accept a clean retry."""
    import threading

    from ong_tsdb_spark.plans import maintenance

    base = str(tmp_path / "tsdb")
    ea = OngTsdbSpark(spark, base)
    ea.create_db("test")
    ea.create_sensor("test", "sa", "1h", ["active"])
    ea.create_sensor("test", "sb", "1h", ["active"])
    pdf_a = _mk_pdf(10)
    ea.write_df("test", "sa", pdf_a)
    path_a = ea.catalog.data_path("test", "sa")
    before_a = _dir_digest(path_a)

    # a second engine instance = the reference's second writer process
    eb = OngTsdbSpark(spark, base)
    b_done = threading.Event()
    b_err: list[Exception] = []

    def writer_b():
        try:
            eb.write_df("test", "sb", _mk_pdf(10) + 50.0)
        except Exception as exc:  # noqa: BLE001
            b_err.append(exc)
        finally:
            b_done.set()

    # kill A mid-merge: the stored-row scan resolves (we are INSIDE
    # the sensor-a locks, mid-upsert), then the process "dies" — but
    # only after writer B has fully written sensor b under A's held
    # lock, pinning the per-sensor lock scope deterministically
    real_read_stored = ea._read_stored

    def dying_read_stored(db, sensor, cfg, dirs):
        existing = real_read_stored(db, sensor, cfg, dirs)
        t = threading.Thread(target=writer_b)
        t.start()
        assert b_done.wait(timeout=120), "writer B deadlocked behind sensor-a lock"
        t.join()
        raise OSError("simulated kill mid-merge")

    ea._read_stored = dying_read_stored
    with pytest.raises(OSError, match="simulated kill mid-merge"):
        ea.write_df("test", "sa", pdf_a + 1.0)
    ea._read_stored = real_read_stored

    # B's write landed while A was mid-merge
    assert not b_err, b_err
    out_b = eb.read_pandas("test", "sb")
    assert out_b["active"].tolist() == (_mk_pdf(10) + 50.0)["active"].astype(
        "float32"
    ).tolist()

    # A's sensor: pre-crash bytes intact, both sensors verify clean
    assert _dir_digest(path_a) == before_a
    for sensor in ("sa", "sb"):
        st = maintenance.verify_sensor(ea, "test", sensor)
        assert st.duplicate_ts == 0 and st.off_grid == 0, sensor
        assert st.n_rows == 10, sensor

    # the crashed writer's lock was released: a clean retry wins
    ea.write_df("test", "sa", pdf_a + 1.0)
    out_a = ea.read_pandas("test", "sa")
    assert out_a["active"].tolist() == (pdf_a + 1.0)["active"].astype(
        "float32"
    ).tolist()


def test_reference_concurrency_with_mid_write_kill(spark, tmp_path):
    """The reference's 4-writers + schema-extender race
    (test_database.py:141-207) crossed with a mid-commit kill: one
    extra writer's job dies in-flight (executor-crash shape) while
    the others contend for the same sensor lock and the extender grows
    the schema.  Survivors' cells, the new metric, and the verify
    audit must all come out clean; the crashed batch must be absent."""
    import threading

    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    from ong_tsdb_spark.plans import maintenance

    eng = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    eng.create_db("test")
    eng.create_sensor("test", "s1", "1s", ["m0"])
    base = 1672617600
    errors: list[tuple[str, Exception]] = []

    def writer(thread_id: int) -> None:
        try:
            for batch in range(3):
                pts = [
                    (
                        "m0",
                        float(thread_id * 1000 + batch),
                        float(base + thread_id * 100 + batch * 10 + i),
                    )
                    for i in range(5)
                ]
                eng.write_points("test", "s1", pts)
        except Exception as exc:  # noqa: BLE001
            errors.append(("writer", exc))

    def extender() -> None:
        try:
            pts = [("m_new", 7.0, float(base + 900 + i)) for i in range(5)]
            eng.write_points("test", "s1", pts)
        except Exception as exc:  # noqa: BLE001
            errors.append(("extender", exc))

    @pandas_udf("double")
    def poison(v: pd.Series) -> pd.Series:
        raise RuntimeError("simulated executor crash")

    def crasher() -> None:
        bad = spark.range(5).select(
            (F.lit(float(base + 500)) + F.col("id").cast("double")).alias("ts_sec"),
            poison(F.col("id").cast("double")).alias("m0"),
        )
        try:
            eng.write_spark_df("test", "s1", bad)
        except Exception:
            pass  # the kill is the point; the suite asserts its blast radius

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    threads.append(threading.Thread(target=extender))
    threads.append(threading.Thread(target=crasher))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    st = maintenance.verify_sensor(eng, "test", "s1")
    assert st.duplicate_ts == 0 and st.off_grid == 0
    assert st.n_rows == 4 * 3 * 5 + 5  # writers + extender, no poison rows

    out = eng.read_pandas("test", "s1")
    assert "m_new" in out.columns
    # every surviving cell holds the value its writer sent (disjoint
    # ts ranges; the crashed batch's ts range must be absent)
    for tid in range(4):
        for batch in range(3):
            ts = pd.Timestamp(base + tid * 100 + batch * 10, unit="s", tz="UTC")
            assert out.loc[ts, "m0"] == np.float32(tid * 1000 + batch)
    crash_ts = pd.Timestamp(base + 500, unit="s", tz="UTC")
    assert crash_ts not in out.index


# ----------------------------------------------------------------------
# streaming-ledger compaction x concurrency (VERDICT r11 #6): the
# batch upsert's crash contracts above have a streaming twin —
# compact_ledger's two crash windows, each crossed with an appender
# that lands a new batch partition while the compaction is in flight.
# Protocol under test (streaming/dedup.py compact_ledger): fold to a
# FRESH negative partition, then delete only the source dirs that
# were COMMITTED at listing time — so a kill anywhere leaves at worst
# duplicate digest ROWS, never a lost digest, and a re-run converges.
# ----------------------------------------------------------------------

def _ledger_digests(spark, ledger_path):
    """The digest SET a consumer (the anti-join) actually sees."""
    from ong_tsdb_spark.streaming.dedup import _read_ledger

    led = _read_ledger(spark, ledger_path, exclude_batch=None)
    return set() if led is None else {r[0] for r in led.distinct().collect()}


def _write_ledger_batch(spark, ledger_path, batch, digests):
    from ong_tsdb_spark.streaming.dedup import FINGERPRINT_COL

    spark.createDataFrame(
        [(d,) for d in digests], f"{FINGERPRINT_COL} string"
    ).write.mode("overwrite").parquet(f"{ledger_path}/batch={batch}")


def test_ledger_compaction_killed_mid_write_with_concurrent_append(
    spark, tmp_path
):
    """Window 1: the compacted-partition write dies before job commit
    (visible partial part file, _temporary debris, no _SUCCESS) while
    a concurrent appender commits batch=2.  No digest — including the
    concurrently appended ones — may be lost, and a compaction re-run
    must converge to the exact folded set."""
    import shutil

    from ong_tsdb_spark.streaming.dedup import compact_ledger

    ledger = str(tmp_path / "ledger")
    _write_ledger_batch(spark, ledger, 0, ["a1", "a2", "dup"])
    _write_ledger_batch(spark, ledger, 1, ["b1", "dup"])

    # the killed compaction: it listed batches {0, 1}, started writing
    # the fold to batch=-1, and died mid-commit — one task's file was
    # already renamed visible, the rest still staged, no _SUCCESS, and
    # (crucially) NO source dir was deleted yet
    staged = str(tmp_path / "staged_fold")
    spark.createDataFrame(
        [("a1",), ("dup",)], "__fp string"
    ).coalesce(1).write.parquet(staged)
    part = next(
        p for p in os.listdir(staged)
        if p.startswith("part-") and p.endswith(".parquet")
    )
    os.makedirs(f"{ledger}/batch=-1/_temporary/0", exist_ok=True)
    shutil.copy(f"{staged}/{part}", f"{ledger}/batch=-1/{part}")

    # the concurrent appender lands AFTER the doomed compaction's
    # listing — its directory must survive any recovery compaction
    _write_ledger_batch(spark, ledger, 2, ["c1", "dup"])

    want = {"a1", "a2", "b1", "c1", "dup"}
    # post-crash, pre-recovery: the consumer view is already exact
    # (partial fold rows are duplicates, folded by distinct)
    assert _ledger_digests(spark, ledger) == want

    # recovery: a fresh compaction converges
    n = compact_ledger(spark, ledger)
    assert n == len(want)
    assert _ledger_digests(spark, ledger) == want
    # the committed sources were folded and removed; the uncommitted
    # crash debris is not a committed dir and must never be deleted
    # by a protocol that only removes listing-time-committed dirs
    entries = set(os.listdir(ledger))
    assert "batch=0" not in entries and "batch=1" not in entries
    assert "batch=2" not in entries

    # life goes on: another append + compaction stays exact
    _write_ledger_batch(spark, ledger, 3, ["d1", "dup"])
    assert compact_ledger(spark, ledger) == len(want | {"d1"})
    assert _ledger_digests(spark, ledger) == want | {"d1"}


def test_ledger_compaction_killed_mid_delete_with_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """Window 2: the fold committed, then the source-directory
    deletion dies after removing ONE of the listed dirs — while an
    appender lands batch=2 mid-compaction (after listing).  The crash
    leaves duplicate rows (batch=1's digests live in both the fold and
    their source dir) but no lost digest; the re-run converges."""
    from ong_tsdb_spark.streaming import dedup as sdedup

    ledger = str(tmp_path / "ledger")
    _write_ledger_batch(spark, ledger, 0, ["a1", "a2", "dup"])
    _write_ledger_batch(spark, ledger, 1, ["b1", "dup"])

    real_fs = sdedup._fs

    class DyingFs:
        """Forwards to the real HadoopFs; delete dies on its 2nd call
        — the mid-deletion kill — after injecting the concurrent
        appender's commit between listing time and the first delete."""

        def __init__(self, inner):
            self._inner = inner
            self._deletes = 0

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def delete(self, path, recursive=False):
            self._deletes += 1
            if self._deletes == 1:
                # the appender commits while the compaction is between
                # its listing and its deletes — strictly concurrent
                _write_ledger_batch(spark, ledger, 2, ["c1", "dup"])
                return self._inner.delete(path, recursive=recursive)
            raise OSError("simulated crash during source-dir deletion")

    dying = {}

    def fs_factory(spark_, path):
        fs = DyingFs(real_fs(spark_, path))
        dying["fs"] = fs
        return fs

    monkeypatch.setattr(sdedup, "_fs", fs_factory)
    with pytest.raises(OSError, match="simulated crash"):
        sdedup.compact_ledger(spark, ledger)
    assert dying["fs"]._deletes == 2  # one delete landed, one died

    monkeypatch.setattr(sdedup, "_fs", real_fs)
    want = {"a1", "a2", "b1", "c1", "dup"}
    # post-crash: duplicates possible, losses not — including the
    # concurrently appended batch, which was never in the doomed
    # compaction's listing
    assert _ledger_digests(spark, ledger) == want

    # recovery compaction folds the survivors + the appended batch
    assert sdedup.compact_ledger(spark, ledger) == len(want)
    assert _ledger_digests(spark, ledger) == want
    entries = set(os.listdir(ledger))
    assert not any(e.startswith("batch=") and "=-" not in e for e in entries), entries


def test_ledger_compaction_two_racing_compactors_single_winner(
    spark, tmp_path
):
    """VERDICT r12 #7: two concurrent compactions are SINGLE-WINNER.
    Without serialization both racers compute the same fresh partition
    id batch=-K and interleave overwrite/delete cycles destructively;
    with the ledger lock the loser skips (-1) while the winner holds,
    and the digest set stays exact throughout.  Deterministic form:
    the 'winner' is simulated by holding the lock across the loser's
    attempt."""
    from ong_tsdb_spark.locks import SensorFileLock
    from ong_tsdb_spark.streaming.dedup import compact_ledger

    ledger = str(tmp_path / "ledger")
    _write_ledger_batch(spark, ledger, 0, ["a1", "a2", "dup"])
    _write_ledger_batch(spark, ledger, 1, ["b1", "dup"])
    want = {"a1", "a2", "b1", "dup"}

    winner_lock = SensorFileLock(ledger, timeout=5.0)
    winner_lock.acquire()
    try:
        # the loser: non-blocking attempt while the winner holds
        assert compact_ledger(spark, ledger) == -1
        # nothing was touched by the losing attempt
        entries = set(os.listdir(ledger))
        assert {"batch=0", "batch=1"} <= entries
        assert _ledger_digests(spark, ledger) == want
    finally:
        winner_lock.release()

    # after the winner releases, compaction proceeds and stays exact
    assert compact_ledger(spark, ledger) == len(want)
    assert _ledger_digests(spark, ledger) == want
    # blocking mode waits out a short-lived holder instead of skipping
    _write_ledger_batch(spark, ledger, 2, ["c1"])
    import threading

    holder = SensorFileLock(ledger, timeout=5.0)
    holder.acquire()
    t = threading.Timer(0.3, holder.release)
    t.start()
    try:
        assert compact_ledger(spark, ledger, wait=True,
                              lock_timeout=10.0) == len(want | {"c1"})
    finally:
        t.cancel()
    assert _ledger_digests(spark, ledger) == want | {"c1"}


def test_ledger_compaction_true_race_loses_nothing(spark, tmp_path):
    """Two compactors launched into the same ledger from two threads
    with a synchronized start.  Any interleaving must hold: at least
    one wins, a loser reports -1 (never a partial fold), and the
    consumer digest set is exact afterwards."""
    import threading

    from ong_tsdb_spark.streaming.dedup import compact_ledger

    ledger = str(tmp_path / "ledger")
    _write_ledger_batch(spark, ledger, 0, ["a1", "a2", "dup"])
    _write_ledger_batch(spark, ledger, 1, ["b1", "dup"])
    want = {"a1", "a2", "b1", "dup"}

    barrier = threading.Barrier(2)
    results: dict[int, object] = {}

    def run(i: int) -> None:
        barrier.wait()
        try:
            results[i] = compact_ledger(spark, ledger)
        except Exception as ex:  # noqa: BLE001 — a raise fails the race
            results[i] = ex

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    vals = [results[i] for i in range(2)]
    assert all(isinstance(v, int) for v in vals), vals
    wins = [v for v in vals if v >= 0]
    assert wins, vals                      # someone compacted
    assert all(v == len(want) for v in wins), vals
    assert _ledger_digests(spark, ledger) == want
    # a follow-up compaction converges regardless of the interleaving
    assert compact_ledger(spark, ledger) == len(want)
    assert _ledger_digests(spark, ledger) == want


def test_ledger_compaction_sigkilled_compactor_successor_wins(
    spark, tmp_path
):
    """VERDICT r13 #3: a compactor killed OUTRIGHT (SIGKILL — no
    finally, no lock release) mid-compaction, end to end.  A real OS
    process acquires the ledger lock, reports back, leaves a partial
    uncommitted fold (the mid-write crash state), and is kill -9'd.
    The successor must: (a) skip while the lockfile is inside the
    stale horizon (crashed != released), then (b) ride the stale-break
    after the horizon and win with an INTACT digest set — the partial
    fold's rows are duplicates, never losses.

    Reference analog: atomic-write crash simulation,
    /root/reference/tests/test_fileutils.py:297-357 (kill between
    staging and rename), here lifted to the cross-process lock
    protocol (locks.py two-observation stale break)."""
    import shutil
    import signal
    import subprocess
    import sys
    import textwrap
    import time

    from ong_tsdb_spark.locks import LOCK_NAME
    from ong_tsdb_spark.streaming.dedup import compact_ledger

    ledger = str(tmp_path / "ledger")
    _write_ledger_batch(spark, ledger, 0, ["a1", "a2", "dup"])
    _write_ledger_batch(spark, ledger, 1, ["b1", "dup"])
    want = {"a1", "a2", "b1", "dup"}

    # the doomed compactor: a REAL separate process that acquires the
    # lock exactly as compact_ledger does, prints HELD, and hangs (it
    # "is" mid-Spark-job when the kill lands)
    child_src = textwrap.dedent(
        f"""
        import sys, time
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from ong_tsdb_spark.locks import SensorFileLock
        lock = SensorFileLock({ledger!r}, timeout=10.0)
        lock.acquire()
        print("HELD", flush=True)
        time.sleep(600)
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child_src],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        line = proc.stdout.readline().strip()
        assert line == "HELD", line
        # its mid-write debris: a partial fold in batch=-1, no _SUCCESS
        staged = str(tmp_path / "staged_fold")
        spark.createDataFrame(
            [("a1",), ("dup",)], "__fp string"
        ).coalesce(1).write.parquet(staged)
        part = next(
            p for p in os.listdir(staged)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        os.makedirs(f"{ledger}/batch=-1", exist_ok=True)
        shutil.copy(f"{staged}/{part}", f"{ledger}/batch=-1/{part}")

        os.kill(proc.pid, signal.SIGKILL)
        proc.wait(timeout=10)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait(timeout=10)

    # the orphaned lockfile is still there — the kill released nothing
    assert os.path.exists(os.path.join(ledger, LOCK_NAME))

    # (a) inside the stale horizon the successor must NOT break the
    # lock: a long horizon means "maybe still alive", and the
    # non-waiting cron default just reports the winner elsewhere
    assert compact_ledger(spark, ledger) == -1
    assert _ledger_digests(spark, ledger) == want  # nothing touched

    # (b) past the horizon the successor breaks the stale lock (two
    # identical payload+mtime sightings) and compacts to the exact set.
    # The horizon is measured from the dead holder's LAST HEARTBEAT
    # (lockfile mtime) — not from when the successor starts waiting —
    # so pin the break-only-after-horizon property against that mtime.
    dead_mtime = os.stat(os.path.join(ledger, LOCK_NAME)).st_mtime
    n = compact_ledger(
        spark, ledger, wait=True, lock_timeout=60.0, lock_stale_after=1.5
    )
    assert n == len(want), n
    assert time.time() - dead_mtime >= 1.5  # broke only past the horizon
    assert _ledger_digests(spark, ledger) == want
    # successor's own release cleaned the lock; committed sources folded
    assert not os.path.exists(os.path.join(ledger, LOCK_NAME))
    entries = set(os.listdir(ledger))
    assert "batch=0" not in entries and "batch=1" not in entries

    # life goes on: append + compaction after the recovery stays exact
    _write_ledger_batch(spark, ledger, 2, ["c1"])
    assert compact_ledger(spark, ledger) == len(want | {"c1"})
    assert _ledger_digests(spark, ledger) == want | {"c1"}
