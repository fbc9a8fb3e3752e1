"""OngTsdbSpark — the engine façade: sensor lifecycle, upsert writes,
pruned reads.  Spark-native re-expression of the reference's
``OngTSDB`` (``src/ong_tsdb/database.py``) with the same observable
semantics:

* snap-to-grid timestamps (database.py:425-488, chunker.py:88-95)
* cell-level last-write-wins upsert (database.py:479-486)
* partial rows merge cellwise; unwritten cells read back NaN
  (database.py:480-483; tests/test_client.py:65-70)
* unwritten rows are invisible (positions>0 filter, database.py:757)
* append-only schema growth with fill_value for pre-existing rows
  (add_new_metrics, database.py:366-423) — implemented WITHOUT data
  rewrite: old Parquet partitions simply lack the column; the read
  path coalesces NULL (column absent when the row was written) to the
  metric's fill value, while NaN (cell explicitly empty in a written
  row) stays NaN.  Same read results, O(1) instead of O(data).
* time-range reads with truncated start / inclusive end
  (database.py:627-631,757-759)

Storage layout (see catalog.py): one Parquet dataset per sensor,
partitioned by ``chunk_start`` (epoch-seconds of the 16384-tick
window — the Spark analog of the reference's chunk files,
fileutils.py:294-308).  Partition pruning on ``chunk_start`` replaces
the reference's arithmetic chunk-filename resolution
(database.py:667-684) and scales to 100 TB: a range read touches only
overlapping partitions, an upsert rewrites only touched partitions
(dynamic partition overwrite).
"""

from __future__ import annotations

import math
import threading
from typing import Any, Iterable

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Catalog, SensorConfig
from .grid import Grid
from .pandas_edge import (
    build_column_index,
    flatten_metric,
    flatten_metrics,
    pdf_to_records,
)

TS_COL = "ts_sec"  # double epoch-seconds, exact grid arithmetic
PART_COL = "chunk_start"  # long, partition key
#: most concurrent sensor writes one write_points_multi payload submits
_MULTI_WRITE_THREADS = 8


def _q(name: str) -> str:
    """Backtick-quote a column name for use in expr strings."""
    return "`" + name.replace("`", "``") + "`"


def _is_path_not_found(ex: Exception) -> bool:
    """True iff an AnalysisException means 'the path does not exist'.

    Decides on the STRUCTURED error class when the exception carries
    one — message substrings vary across Spark versions/locales, too
    brittle for a guard that protects against irreversible data loss
    (ADVICE r9); the substring match survives only as a fallback for
    class-less exceptions.  getCondition() is the PySpark-4 accessor;
    getErrorClass() is its deprecated alias, kept as the second try
    for older builds (code-review r10: the alias FutureWarns on every
    call and will be removed)."""
    klass = None
    for accessor in ("getCondition", "getErrorClass"):
        try:
            klass = getattr(ex, accessor)()
        except Exception:
            continue
        if klass is not None:
            break
    if klass is not None:
        return klass == "PATH_NOT_FOUND"
    msg = str(ex)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


class OngTsdbSpark:
    """Engine façade. One instance per (SparkSession, base_dir).

    ``admin_key=None`` (default) disables auth entirely; with a key
    set, DDL requires the admin key and per-sensor read/write keys in
    the sensor config are enforced with constant-time compares
    (reference _check_auth, database.py:170-187).
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        admin_key: str | None = None,
        lock_timeout: float = 60.0,
        lock_stale_after: float | None = None,
    ):
        self.spark = spark
        # scheme-qualified base dirs (hdfs://, s3a://, file:/ ...) go
        # through the Hadoop FS catalog; plain paths stay pure-Python
        from .object_store import HadoopCatalog, is_remote_uri

        self.catalog = (
            HadoopCatalog(spark, base_dir) if is_remote_uri(base_dir) else Catalog(base_dir)
        )
        from .locks import DEFAULT_STALE_AFTER

        self.admin_key = admin_key
        self.lock_timeout = lock_timeout
        self.lock_stale_after = (
            DEFAULT_STALE_AFTER if lock_stale_after is None else lock_stale_after
        )
        self._locks: dict[tuple[str, str], threading.Lock] = {}
        self._locks_guard = threading.Lock()
        #: per-sensor resolved-scan memo — (db, sensor) -> (key, df);
        #: key = (write version, data-dir mtime, storage schema), see
        #: :meth:`_read_raw`.  Plan metadata only, never rows.
        self._scan_memo: dict[tuple[str, str], tuple] = {}

    # ------------------------------------------------------------------
    # auth (service layer, SURVEY §2.13)
    # ------------------------------------------------------------------
    def _auth(
        self,
        action,
        db: str | None = None,
        sensor: str | None = None,
        key: str | None = None,
    ) -> None:
        from .auth import Action, check_auth, require

        if self.admin_key is None:
            return  # auth disabled
        read_key = write_key = None
        if db is not None and sensor is not None and self.catalog.exist_sensor(db, sensor):
            cfg = self.catalog.get_config(db, sensor)
            read_key = cfg.read_key or None
            write_key = cfg.write_key or None
        ok = check_auth(key, action, self.admin_key, read_key, write_key)
        require(ok, action, f"{db}.{sensor}" if sensor else (db or "<catalog>"))

    # ------------------------------------------------------------------
    # lifecycle (M3/M4) — thin catalog passthroughs
    # ------------------------------------------------------------------
    def create_db(self, db: str, key: str | None = None) -> None:
        from .auth import Action

        self._auth(Action.ADMIN, db=db, key=key)
        self.catalog.create_db(db)

    def delete_db(self, db: str, key: str | None = None) -> None:
        from .auth import Action

        self._auth(Action.ADMIN, db=db, key=key)
        self.catalog.delete_db(db)

    def exist_db(self, db: str) -> bool:
        return self.catalog.exist_db(db)

    def create_sensor(
        self,
        db: str,
        sensor: str,
        freq: str,
        metrics: list,
        metadata: dict[str, Any] | None = None,
        read_key: str = "",
        write_key: str = "",
        key: str | None = None,
    ) -> None:
        from .auth import Action

        self._auth(Action.ADMIN, db=db, key=key)
        cfg = SensorConfig(
            freq=freq,
            metrics=list(metrics),
            metadata=metadata or {},
            read_key=read_key,
            write_key=write_key,
        )
        self.catalog.create_sensor(db, sensor, cfg)

    def delete_sensor(self, db: str, sensor: str, key: str | None = None) -> None:
        from .auth import Action

        self._auth(Action.ADMIN, db=db, sensor=sensor, key=key)
        self.catalog.delete_sensor(db, sensor)

    def exist_sensor(self, db: str, sensor: str) -> bool:
        return self.catalog.exist_sensor(db, sensor)

    def get_metrics(self, db: str, sensor: str, key: str | None = None) -> list:
        from .auth import Action

        # reference requires READ for metric names (database.py:522-526)
        self._auth(Action.READ, db=db, sensor=sensor, key=key)
        return self.catalog.get_config(db, sensor).metrics

    def get_metadata(
        self, db: str, sensor: str, key: str | None = None
    ) -> dict[str, Any]:
        from .auth import Action

        self._auth(Action.READ, db=db, sensor=sensor, key=key)
        return self.catalog.get_config(db, sensor).metadata

    def update_metadata(
        self, db: str, sensor: str, metadata: dict[str, Any], key: str | None = None
    ) -> None:
        from .auth import Action

        self._auth(Action.WRITE, db=db, sensor=sensor, key=key)
        # under the SAME locks as the write path: update_metadata is a
        # read-modify-write of _sensor.json, and an unlocked one racing
        # a concurrent write's schema growth would write back a stale
        # config without the new metric + fill — making freshly written
        # data invisible to reads (code-review r9)
        with self._sensor_lock(db, sensor), self._file_lock(db, sensor):
            self.catalog.update_metadata(db, sensor, metadata)

    # ------------------------------------------------------------------
    # write path (M1 upsert + M2 schema evolution)
    # ------------------------------------------------------------------
    def _sensor_lock(self, db: str, sensor: str) -> threading.Lock:
        """Per-sensor write serialization, parity with the reference's
        _get_sensor_lock (database.py:59-61,154-168). Spark tasks within
        one job are isolated; this lock serializes concurrent driver
        calls only."""
        with self._locks_guard:
            return self._locks.setdefault((db, sensor), threading.Lock())

    def _file_lock(self, db: str, sensor: str):
        """Cross-process writer lock + version protocol (ROADMAP #2):
        exclusive-create lockfile in the sensor dir (O_EXCL locally,
        createNewFile on Hadoop FS), stale-broken after
        ``lock_stale_after`` — serializes the read-merge-overwrite
        cycle between separate driver processes, which the in-process
        lock above cannot see."""
        return self.catalog.write_lock(
            db, sensor, timeout=self.lock_timeout, stale_after=self.lock_stale_after
        )

    def get_write_version(self, db: str, sensor: str) -> int:
        """Monotonic per-sensor write version (bumped on every commit)
        — a cheap change cursor for cross-process cache invalidation."""
        return self.catalog.get_version(db, sensor)

    def write_df(
        self,
        db: str,
        sensor: str,
        pdf: pd.DataFrame,
        fill_value: float = 0.0,
        key: str | None = None,
    ) -> None:
        """Write a pandas frame (DatetimeIndex x metric columns) —
        parity with client.write_df (client.py:372-382)."""
        ts_sec, values, names = pdf_to_records(pdf)
        rows = [(t, *v) for t, v in zip(ts_sec, values)]
        schema = T.StructType(
            [T.StructField(TS_COL, T.DoubleType())]
            + [T.StructField(n, T.DoubleType()) for n in names]
        )
        sdf = self.spark.createDataFrame(rows, schema)
        self.write_spark_df(db, sensor, sdf, fill_value=fill_value, key=key)

    def write_points(
        self,
        db: str,
        sensor: str,
        points: Iterable[tuple[str, float, float]],
        fill_value: float = 0.0,
        key: str | None = None,
    ) -> None:
        """Write (metric, value, ts_sec) long-form tuples — the influx
        ingest shape after parsing (server.py:214-293). Scatters into a
        wide frame; metric order per-point is irrelevant, partial rows
        merge cellwise (tests/test_client.py:65-70)."""
        long_rows = [(str(m), float(v), float(t)) for m, v, t in points]
        schema = T.StructType(
            [
                T.StructField("metric", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField(TS_COL, T.DoubleType()),
            ]
        )
        sdf = self.spark.createDataFrame(long_rows, schema)
        self.write_long_df(db, sensor, sdf, fill_value=fill_value, key=key)

    def write_points_multi(
        self,
        db: str,
        per_sensor: dict[str, list[tuple[str, float, float]]],
        fill_value: float = 0.0,
        key: str | None = None,
    ) -> None:
        """Upsert several sensors of one db from a single batch payload
        (the `/influx_binary` shape, reference server.py:317-327).

        Why concurrent jobs, not one job: every sensor is an
        independent dataset (own grid, schema, write lock, version)
        rooted at ``base/db/sensor`` — a Spark write targets one
        dataset root, so an N-sensor payload is N dataset writes no
        matter how the input frame is shaped.  What CAN be batched is
        wall-clock: the writes are independent (per-sensor locks), so
        they are submitted as concurrent jobs on the shared Spark
        scheduler and the payload costs ~ the slowest sensor instead of
        the serial sum (the reference loops sensors serially,
        server.py:214-293).

        All sensors are attempted; the first failure is re-raised after
        the batch drains (same partial-write semantics as the serial
        loop, minus its order dependence)."""
        from concurrent.futures import ThreadPoolExecutor

        if not per_sensor:
            return
        if len(per_sensor) == 1:
            ((sensor, pts),) = per_sensor.items()
            self.write_points(db, sensor, pts, fill_value=fill_value, key=key)
            return
        with ThreadPoolExecutor(
            max_workers=min(_MULTI_WRITE_THREADS, len(per_sensor))
        ) as pool:
            futures = [
                (
                    sensor,
                    pool.submit(
                        self.write_points, db, sensor, pts, fill_value=fill_value, key=key
                    ),
                )
                for sensor, pts in per_sensor.items()
            ]
            first_err: Exception | None = None
            for sensor, fut in futures:
                try:
                    fut.result()
                except Exception as e:  # drain everything, then re-raise
                    if first_err is None:
                        first_err = e
        if first_err is not None:
            raise first_err

    def write_long_df(
        self,
        db: str,
        sensor: str,
        long_df: DataFrame,
        fill_value: float = 0.0,
        key: str | None = None,
    ) -> None:
        """Distributed long-form upsert: a (metric, value, ts_sec)
        DataFrame of any size (e.g. a streaming micro-batch) is pivoted
        to wide *inside Spark* — the only driver-side data is the
        distinct metric-name list (bounded by schema width, not rows).

        The pivot groups by the *snapped* timestamp: two off-grid
        points landing in one grid cell must resolve last-non-NaN-wins
        HERE, while ``_arrival`` still reflects input order (assigning
        arrival ids after the pivot would order by shuffle output —
        arbitrary; this was a real bug caught by the model-based test).
        NaN values are excluded from the arrival race entirely (a NaN
        input never overwrites, database.py:480-483)."""
        names = sorted(
            r[0] for r in long_df.select("metric").distinct().collect() if r[0]
        )
        if not names:
            return
        grid = self.catalog.get_config(db, sensor).grid
        sdf = long_df.withColumn("_arrival", F.monotonically_increasing_id())
        sdf = sdf.withColumn(TS_COL, grid.snap_expr(F.col(TS_COL)).cast("double"))
        wide = sdf.groupBy(TS_COL).pivot("metric", names).agg(
            F.expr(
                "max_by(value, CASE WHEN value IS NOT NULL AND NOT isnan(value) "
                "THEN _arrival END)"
            )
        )
        self.write_spark_df(db, sensor, wide, fill_value=fill_value, key=key)

    def write_spark_df(
        self,
        db: str,
        sensor: str,
        sdf: DataFrame,
        fill_value: float = 0.0,
        key: str | None = None,
    ) -> None:
        """The core M1 upsert. ``sdf`` columns: ``ts_sec`` (double epoch
        seconds) or ``ts`` (timestamp), plus one numeric column per
        metric.  Cell rule (database.py:479-486): a non-NaN input value
        overwrites the stored cell; NaN/absent inputs leave it alone.
        """
        from .auth import Action

        self._auth(Action.WRITE, db=db, sensor=sensor, key=key)
        if not self.catalog.exist_sensor(db, sensor):
            self.catalog.get_config(db, sensor)  # raises ElementNotFoundError

        if TS_COL not in sdf.columns:
            if "ts" not in sdf.columns:
                raise ValueError("input needs a ts_sec (epoch sec) or ts (timestamp) column")
            sdf = sdf.withColumn(TS_COL, F.col("ts").cast("double")).drop("ts")

        in_metrics = [c for c in sdf.columns if c != TS_COL]

        lock = self._sensor_lock(db, sensor)
        with lock, self._file_lock(db, sensor):
            # config is (re-)read INSIDE the locks: another process may
            # have grown the schema since our last look
            cfg = self.catalog.get_config(db, sensor)
            grid = cfg.grid
            known = flatten_metrics(cfg.metrics)
            # M2: append-only schema growth + per-metric fill bookkeeping
            new_metrics = [m for m in in_metrics if m not in known]
            if new_metrics:
                for m in new_metrics:
                    cfg.metrics.append(m)
                    cfg.fills[flatten_metric(m)] = (
                        float("nan") if _is_nan(fill_value) else float(fill_value)
                    )
                self.catalog.update_config(db, sensor, cfg)
                known = flatten_metrics(cfg.metrics)

            # normalize: snap to grid, float32 values, NaN -> NULL so
            # "no value supplied" is uniform for the last-wins fold
            snapped = grid.snap_expr(F.col(TS_COL)).cast("double")
            norm = sdf.withColumn(TS_COL, snapped).withColumn(
                "_arrival", F.monotonically_increasing_id()
            )
            norm = norm.withColumn(PART_COL, grid.chunk_start_expr(F.col(TS_COL)))
            val_cols = []
            for m in in_metrics:
                c = F.col(_q(m)).cast("float")
                val_cols.append(F.when(~F.isnan(c) & c.isNotNull(), c).alias(m))
            norm = norm.select(TS_COL, PART_COL, "_arrival", *val_cols)

            width = max(1, self.spark.sparkContext.defaultParallelism)
            existing = self._read_raw(db, sensor, cfg)
            if existing is None:
                self._fold_and_write(db, sensor, norm, known, width)
            else:
                # the batch is read twice (touched-chunk census, then the
                # fold): persist it so snap + arrival ids run once; a lost
                # block is recomputed from lineage, not fatal
                norm = norm.persist()
                try:
                    touched = [r[0] for r in norm.select(PART_COL).distinct().collect()]
                    # stored rows of the touched chunks enter the fold as
                    # the OLDEST arrival, so any batch value beats them.
                    # A stored NULL means the chunk predates the metric ->
                    # its fill value (add_new_metrics, database.py:366-423);
                    # a stored NaN is an empty cell -> NULL, never a winner
                    stored_cols = []
                    for m in known:
                        c = F.col(_q(m))
                        fill = cfg.fills.get(m)
                        if fill is not None and not _is_nan(fill):
                            c = F.coalesce(c, F.lit(fill).cast("float"))
                        stored_cols.append(F.when(~F.isnan(c), c).alias(m))
                    stored = existing.filter(F.col(PART_COL).isin(touched)).select(
                        TS_COL, PART_COL, F.lit(-1).cast("long").alias("_arrival"), *stored_cols
                    )
                    rows = stored.unionByName(norm, allowMissingColumns=True)
                    # one task per touched chunk is the most a
                    # one-file-per-chunk-dir layout can use
                    self._fold_and_write(
                        db, sensor, rows, known, min(width, max(1, len(touched)))
                    )
                finally:
                    norm.unpersist()

            self.catalog.bump_version(db, sensor)

    def _fold_and_write(
        self, db: str, sensor: str, rows: DataFrame, known: list[str], width: int
    ) -> None:
        """Last non-null wins per (chunk, ts, metric) by ``_arrival``,
        then a dynamic overwrite of the chunks present in ``rows``.

        SINGLE shuffle: repartition by chunk, then the groupBy over
        (chunk, ts) reuses that partitioning (HashPartitioning on a key
        subset satisfies the agg's ClusteredDistribution), and the
        partitionBy write needs no further exchange — each chunk is one
        task, so each chunk dir gets exactly one file.  The partition
        COUNT is explicit: a bare repartition(col) is advisory, and AQE
        coalesces a small batch's shuffle to ONE task that then writes
        every chunk's file serially."""
        rows = rows.repartition(width, PART_COL)
        present = [m for m in known if m in rows.columns]
        folded = rows.groupBy(PART_COL, TS_COL).agg(
            *[
                F.expr(
                    f"max_by({_q(m)}, CASE WHEN {_q(m)} IS NOT NULL THEN _arrival END)"
                ).alias(m)
                for m in present
            ]
        )
        # storage shape: every known metric present; cell empty -> NaN
        # (row exists + NaN cell == reference's scatter semantics)
        nan = F.lit(float("nan")).cast("float")
        out = folded.select(
            TS_COL,
            *[(F.coalesce(F.col(_q(m)), nan) if m in present else nan).alias(m) for m in known],
            PART_COL,
        )
        # per-write dynamic overwrite: only touched chunk_start dirs are
        # replaced, and the session-global conf (which would change
        # unrelated writes' semantics) stays untouched.  The local sort
        # leads with chunk_start: a planned partitionBy write requires
        # that ordering and drops a sort that does not start with it
        (
            out.sortWithinPartitions(PART_COL, TS_COL)
            .write.mode("overwrite")
            .partitionBy(PART_COL)
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .parquet(self.catalog.data_path(db, sensor))
        )

    # ------------------------------------------------------------------
    # read path (S3/S4, P1-P5)
    # ------------------------------------------------------------------
    def _read_raw(self, db: str, sensor: str, cfg: SensorConfig) -> DataFrame | None:
        """Scan the sensor dataset; None if empty.

        The schema comes from the CATALOG, not from file footers: with
        ``mergeSchema`` Spark opens EVERY part file's footer at plan
        time — 1-2 s on a few hundred chunks locally, unbounded growth
        with chunk count at scale, and paid again on every read.  The
        catalog already knows the exact storage shape: ts double, every
        known metric float — a metric absent from pre-schema-growth
        files reads as NULL under an explicit schema, exactly what
        footer merging produced — and chunk_start long (double only for
        fractional sub-second grids).  Stale columns from deleted
        metrics are simply not requested.

        The resolved scan (a LAZY DataFrame — plan metadata and a file
        listing snapshot, zero rows) is memoized per sensor and
        INVALIDATED ON WRITE (optimization r15, VERDICT r14 #7 —
        mirrors entry_queries.load's session memo): the key carries
        the sensor's write version (bumped by every commit, readable
        cross-process), the data dir's mtime (changes when chunk dirs
        are created/removed — belt-and-braces for out-of-band
        delete+recreate at the same path) and the storage schema, so
        a repeat read in a serving session skips the per-call
        directory re-listing while an upsert anywhere forces a fresh
        resolve.  Remote (object-store) catalogs skip the memo — no
        cheap mtime fingerprint there."""
        if not self.catalog.data_exists(db, sensor):
            return None
        d = cfg.grid.chunk_duration
        part_t = T.LongType() if d == int(d) else T.DoubleType()
        schema = T.StructType(
            [T.StructField(TS_COL, T.DoubleType())]
            + [T.StructField(m, T.FloatType()) for m in flatten_metrics(cfg.metrics)]
            + [T.StructField(PART_COL, part_t)]
        )
        memo_key = None
        local = self._local_data_dir(db, sensor)
        if local is not None:
            import os

            try:
                memo_key = (
                    self.catalog.get_version(db, sensor),
                    os.stat(local).st_mtime_ns,
                    tuple((f.name, f.dataType.simpleString()) for f in schema.fields),
                )
            except OSError:
                memo_key = None
        if memo_key is not None:
            hit = self._scan_memo.get((db, sensor))
            if hit is not None and hit[0] == memo_key:
                return hit[1]
        try:
            df = self.spark.read.schema(schema).parquet(
                self.catalog.data_path(db, sensor)
            )
            if memo_key is not None:
                self._scan_memo[(db, sensor)] = (memo_key, df)
            return df
        except AnalysisException as ex:
            # ONLY a vanished path (raced a concurrent delete) is
            # "no data".  Anything else must RAISE: write_spark_df
            # interprets None as "sensor empty" and skips the cellwise
            # merge, so masking a transient listing/permission failure
            # here would let a dynamic partition overwrite silently
            # replace existing chunks with the new batch alone —
            # irreversible data loss on a read blip (code-review r9).
            if _is_path_not_found(ex):
                return None
            raise

    def read(
        self,
        db: str,
        sensor: str,
        start_ts: float | None = None,
        end_ts: float | None = None,
        metrics: list | None = None,
        key: str | None = None,
    ) -> DataFrame | None:
        """Range read -> Spark DataFrame (ts_sec asc + float metric
        columns).  start is snapped down to the grid, end inclusive
        (database.py:627-631,757-759). Column pruning pushes into the
        Parquet scan — an improvement the reference can't do (it always
        reads all metric columns, database.py:624)."""
        from .auth import Action

        self._auth(Action.READ, db=db, sensor=sensor, key=key)
        cfg = self.catalog.get_config(db, sensor)
        grid = cfg.grid
        df = self._read_raw(db, sensor, cfg)
        if df is None:
            return None
        known = flatten_metrics(cfg.metrics)
        sel = known if metrics is None else flatten_metrics(metrics)

        if start_ts is not None:
            start = grid.snap(float(start_ts))
            # prune partitions arithmetically, then rows
            df = df.filter(
                (F.col(PART_COL) >= grid.chunk_start(start)) & (F.col(TS_COL) >= start)
            )
        if end_ts is not None:
            end = float(end_ts)
            df = df.filter(
                (F.col(PART_COL) <= grid.chunk_start(end)) & (F.col(TS_COL) <= end)
            )

        cols = [F.col(TS_COL)]
        for m in sel:
            if m in df.columns:
                c = F.col(_q(m)).cast("float")
                fill = cfg.fills.get(m)
                if fill is not None and not _is_nan(fill):
                    c = F.coalesce(c, F.lit(fill).cast("float"))
            else:
                c = F.lit(float("nan")).cast("float")
            cols.append(c.alias(m))
        return df.select(*cols).orderBy(TS_COL)

    #: serve a range read driver-side (pyarrow over the SAME parquet
    #: chunk files) when it touches at most this many chunk partitions
    #: — the point-read/serving path where a Spark job's ~0.5 s fixed
    #: overhead dwarfs the data (the reference answers these in ms).
    #: 64 chunks = ~12 days of a 1 s grid = ~1M rows x few columns
    #: driver-side, comfortably a serving read; wider analytic scans
    #: go through Spark
    FAST_READ_MAX_CHUNKS = 64

    def read_pandas(
        self,
        db: str,
        sensor: str,
        start_ts: float | None = None,
        end_ts: float | None = None,
        metrics: list | None = None,
        tz: str = "UTC",
        key: str | None = None,
    ) -> pd.DataFrame:
        """Range read -> pandas frame with tz-aware DatetimeIndex and
        float32 values — the reference client's read() shape
        (client.py:540-571).  Small windows (<= FAST_READ_MAX_CHUNKS
        chunk partitions on a local filesystem) are served driver-side
        by pyarrow over the same parquet files — identical output
        (pinned by tests), ~ms instead of a Spark job; any surprise
        falls back to the Spark path."""
        from .auth import NotAuthorizedError

        cfg = self.catalog.get_config(db, sensor)
        sel_metrics = cfg.metrics if metrics is None else list(metrics)
        try:
            fast = self._read_pandas_fast(
                db, sensor, start_ts, end_ts, sel_metrics, cfg, key=key
            )
        except NotAuthorizedError:
            raise
        except Exception:  # noqa: BLE001 — fall back to the Spark path
            fast = None
        if fast is not None:
            return self._pandas_edge(fast, sel_metrics, cfg, tz)
        df = self.read(db, sensor, start_ts, end_ts, metrics, key=key)
        flat = flatten_metrics(sel_metrics)
        if df is None:
            pdf = pd.DataFrame(columns=[*flat])
        else:
            pdf = df.toPandas()
        return self._pandas_edge(pdf, sel_metrics, cfg, tz)

    def _pandas_edge(
        self, pdf: pd.DataFrame, sel_metrics: list, cfg: SensorConfig, tz: str
    ) -> pd.DataFrame:
        """The shared pandas boundary: ts_sec -> tz-aware index,
        float32 values, MultiIndex columns from catalog level_names."""
        if len(pdf):
            idx = pd.to_datetime((pdf[TS_COL] * 1e9).round().astype("int64"), utc=True)
            pdf = pdf.drop(columns=[TS_COL])
            pdf.index = idx.dt.tz_convert(tz)
        else:
            pdf = pdf.drop(columns=[TS_COL], errors="ignore")
            pdf.index = pd.DatetimeIndex([], tz=tz)
        pdf.index.name = None
        pdf = pdf.astype("float32")
        level_names = cfg.metadata.get("level_names")
        pdf.columns = build_column_index(sel_metrics, level_names)
        return pdf

    def _local_data_dir(self, db: str, sensor: str) -> str | None:
        """The sensor's data directory IF it is plain-local-filesystem
        (pyarrow-reachable without Hadoop); None for object-store URIs
        (those reads stay on the Spark path)."""
        import os

        p = self.catalog.data_path(db, sensor)
        if p.startswith("file:"):
            # both file:///p and the Hadoop-normalized file:/p (and
            # file://localhost/p) are this machine; file://host/p is
            # not.  Same normalization as streaming/dedup._local_dir
            # (ADVICE r13) — here the miss only cost the pyarrow fast
            # path (the Spark path still served the read), but a
            # file:-based catalog should get serve-tier latency too.
            from urllib.parse import urlparse

            parsed = urlparse(p)
            if parsed.netloc not in ("", "localhost"):
                return None
            p = parsed.path
        if "://" in p:
            return None
        return p if os.path.isdir(p) else None

    def _read_pandas_fast(
        self,
        db: str,
        sensor: str,
        start_ts: float | None,
        end_ts: float | None,
        sel_metrics: list,
        cfg: SensorConfig,
        key: str | None,
    ) -> pd.DataFrame | None:
        """Driver-side pyarrow read of <= FAST_READ_MAX_CHUNKS chunk
        partitions, replicating the Spark path's semantics exactly:
        snap-truncated inclusive start, inclusive end, per-metric
        NULL -> fill coalesce (schema-growth files lack newer metric
        columns), unknown metrics as NaN, float32, ts order.  Returns
        None when the window is too wide or the storage isn't local —
        the caller then runs the Spark path."""
        import os

        from .auth import Action

        d = self._local_data_dir(db, sensor)
        if d is None:
            return None
        # duplicate metric selections are legal on the Spark path
        # (select emits one column per request); the pandas frame
        # builder below dedupes by name — punt those to Spark
        if len(flatten_metrics(sel_metrics)) != len(set(flatten_metrics(sel_metrics))):
            return None
        self._auth(Action.READ, db=db, sensor=sensor, key=key)
        grid = cfg.grid
        parts = []
        for entry in self.catalog.list_data_partitions(db, sensor):
            if not entry.startswith(f"{PART_COL}="):
                continue
            try:
                v = float(entry.split("=", 1)[1])
            except ValueError:
                continue
            parts.append((v, entry))
        start = grid.snap(float(start_ts)) if start_ts is not None else None
        if start is not None:
            parts = [(v, e) for v, e in parts if v >= grid.chunk_start(start)]
        if end_ts is not None:
            parts = [(v, e) for v, e in parts if v <= grid.chunk_start(float(end_ts))]
        if len(parts) > self.FAST_READ_MAX_CHUNKS:
            return None

        import numpy as np
        import pyarrow.parquet as pq

        known = flatten_metrics(cfg.metrics)
        sel = flatten_metrics(sel_metrics)
        sel_known = [m for m in sel if m in known]
        frames = []
        for _, entry in sorted(parts):
            pdir = os.path.join(d, entry)
            for fn in sorted(os.listdir(pdir)):
                if not fn.endswith(".parquet"):
                    continue
                pf = pq.ParquetFile(os.path.join(pdir, fn))
                have = set(pf.schema_arrow.names)
                want = [TS_COL] + [m for m in sel_known if m in have]
                f = pf.read(columns=want).to_pandas()
                # columns ABSENT from this (pre-schema-growth) file
                # read as NULL under Spark's explicit schema and then
                # coalesce to the metric's fill — replicate PER FILE:
                # stored cells are never NULL (the write path
                # materializes NaN), so a blanket fillna would wrongly
                # overwrite stored never-written-cell NaNs
                for m in sel_known:
                    if m not in have:
                        fill = cfg.fills.get(m)
                        v = (
                            np.float32(fill)
                            if fill is not None and not _is_nan(fill)
                            else np.float32("nan")
                        )
                        f[m] = np.full(len(f), v, dtype="float32")
                frames.append(f)
        if frames:
            pdf = pd.concat(frames, ignore_index=True)
        else:
            pdf = pd.DataFrame(
                {
                    TS_COL: pd.Series([], dtype="float64"),
                    **{m: pd.Series([], dtype="float32") for m in sel_known},
                }
            )
        if start is not None:
            pdf = pdf[pdf[TS_COL] >= start]
        if end_ts is not None:
            pdf = pdf[pdf[TS_COL] <= float(end_ts)]
        pdf = pdf.sort_values(TS_COL, kind="mergesort").reset_index(drop=True)
        out = pd.DataFrame({TS_COL: pdf[TS_COL].astype("float64")})
        for m in sel:
            out[m] = (
                pdf[m].astype("float32")
                if m in pdf.columns
                else pd.Series(np.nan, index=pdf.index, dtype="float32")
            )
        return out

    def _pick_rollup_for(
        self,
        db: str,
        sensor: str,
        start_ts: float,
        end_ts: float,
        spread: int,
        metrics: list | None,
    ) -> str | None:
        """Choose a materialized 'first' rollup that can serve a
        maxDataPoints read EXACTLY (ROADMAP #7).  Exactness requires
        every thinning bucket to be a union of complete rollup cells:
        the rollup tick must divide the spread AND the bucket phase
        (start_ts), and the rollup must be refreshed through the
        requested range.  Coarsest qualifying rollup wins (fewest rows
        scanned).  Returns None when only the raw scan is exact."""
        try:
            sensors = self.catalog.get_sensors(db)
            if metrics is None:
                # with no explicit projection the caller gets ALL of
                # the raw sensor's metrics — a rollup created before
                # later schema growth must NOT serve then, or grown
                # columns silently vanish from the result (code-review
                # r9).  Read the config only on this path (it is dead
                # weight under an explicit projection), inside the same
                # guard as get_sensors: a sensor deleted between auth
                # and here falls back to the raw-scan path instead of
                # raising out of read_downsampled (ADVICE r9).
                want = set(flatten_metrics(self.catalog.get_config(db, sensor).metrics))
            else:
                want = set(flatten_metrics(metrics))
            # loop-invariant: ONE raw last-timestamp lookup, not one
            # per candidate (each lookup lists partitions + reads
            # footer stats).  Inside the guard for the same reason as
            # the config read: it touches the raw sensor's catalog
            # state, which can vanish mid-race.
            raw_last = self.get_last_timestamp(db, sensor, key=self.admin_key)
        except Exception:
            return None
        if raw_last is None:
            return None
        best: tuple[float, str] | None = None
        for cand in sensors:
            if cand == sensor:
                continue
            try:
                cfg = self.catalog.get_config(db, cand)
            except Exception:
                continue
            md = cfg.metadata
            if md.get("rollup_of") != sensor or md.get("rollup_agg") != "first":
                continue
            tick = cfg.grid.tick_seconds
            if tick != int(tick) or tick <= 0:
                continue
            tick = int(tick)
            if spread % tick or int(start_ts) % tick or start_ts != int(start_ts):
                continue
            if not want <= set(flatten_metrics(cfg.metrics)):
                continue
            # freshness: the rollup must cover everything raw has in
            # range (internal lookups — the caller's READ auth on the
            # raw sensor was already checked by read_downsampled)
            roll_last = self.get_last_timestamp(db, cand, key=self.admin_key)
            horizon = min(float(end_ts), raw_last)
            if roll_last is None or roll_last < cfg.grid.snap(horizon):
                continue
            if best is None or tick > best[0]:
                best = (tick, cand)
        return best[1] if best else None

    def read_iter(
        self,
        db: str,
        sensor: str,
        start_ts: float | None = None,
        end_ts: float | None = None,
        metrics: list | None = None,
        key: str | None = None,
        tz: str = "UTC",
    ):
        """S3 — chunk-by-chunk iterator of pandas frames, the memory-
        bounded export path (reference ``read_iter``, database.py:
        579-666: "All data is loaded in memory [in read] ... in such
        cases, use read_iter").  Each yielded frame is ONE chunk
        partition's rows (a pruned single-partition scan — the Spark
        analog of reading one chunk file), so driver memory is bounded
        by chunk size regardless of the range length.  Yields
        ``(chunk_start_sec, pandas_frame)`` in time order."""
        import time as _time

        from .auth import Action

        self._auth(Action.READ, db=db, sensor=sensor, key=key)
        cfg = self.catalog.get_config(db, sensor)
        grid = cfg.grid
        if start_ts is None:
            start_ts = grid.chunk_start(_time.time())
        if end_ts is None:
            end_ts = _time.time()
        first = grid.chunk_start(float(start_ts))
        last = grid.chunk_start(float(end_ts))
        chunks = sorted(
            c
            for c in self._existing_chunks(db, sensor)
            if first <= c <= last
        )
        for c in chunks:
            # Upper bound must be EXCLUSIVE of the next chunk's start:
            # read() is end-inclusive, and at epoch magnitudes a float
            # epsilon like 1e-9 is below one ULP (~2.4e-7), so it would
            # round back to exactly c + duration and double-yield every
            # boundary-aligned sample.  math.nextafter gives the largest
            # float strictly below the boundary — ts <= bound is then
            # exactly ts < c + duration, ULP-exact at any magnitude.
            bound = math.nextafter(c + grid.chunk_duration, -math.inf)
            pdf = self.read_pandas(
                db,
                sensor,
                start_ts=max(float(start_ts), c),
                end_ts=min(float(end_ts), bound),
                metrics=metrics,
                tz=tz,
                key=key,
            )
            if len(pdf):
                yield c, pdf

    def _existing_chunks(self, db: str, sensor: str) -> list[float]:
        """Chunk-start values present on disk — a partition-directory
        listing (metadata-only, no data scan)."""
        out = []
        for entry in self.catalog.list_data_partitions(db, sensor):
            if entry.startswith(f"{PART_COL}="):
                try:
                    out.append(float(entry.split("=", 1)[1]))
                except ValueError:
                    pass
        return out

    def read_downsampled(
        self,
        db: str,
        sensor: str,
        start_ts: float,
        end_ts: float,
        max_datapoints: int,
        metrics: list | None = None,
        key: str | None = None,
        use_rollups: bool = True,
    ) -> DataFrame | None:
        """W1 — grafana-style maxDataPoints read: first stored point
        per thinning bucket (server.py:412-475).  Runs as a pruned
        scan + one window pass; output size is bounded by
        max_datapoints regardless of the range size.

        When a qualifying materialized 'first' rollup (plans/rollup.py)
        exists (tick divides the spread, aligned phase, metric
        coverage, refreshed through the range), the scan reads the
        rollup sensor instead of raw — O(range/tick) rows instead of
        O(range/grid).  DOCUMENTED SEMANTICS DELTA (code-review r9): a
        rollup-served result carries bucket-aligned timestamps and
        per-metric first-non-NaN values (what the rollup's coarse grid
        can store), while the raw scan emits the first stored ROW per
        bucket with its real timestamp and that row's cells (NaNs
        included).  Identical whenever buckets start on a stored
        sample and rows are metric-dense — the dashboard case this
        path serves; pass ``use_rollups=False`` for raw-row-exact
        output."""
        from .auth import Action
        from .operators.downsample import downsample_max_datapoints

        # auth is always against the RAW sensor; a qualifying rollup is
        # derived data of that same sensor (its own keys don't apply)
        self._auth(Action.READ, db=db, sensor=sensor, key=key)
        source = sensor
        if use_rollups:
            spread = max(int((int(end_ts) - int(start_ts) + 1) / max_datapoints), 1)
            picked = self._pick_rollup_for(
                db, sensor, start_ts, end_ts, spread, metrics
            )
            if picked is not None:
                source = picked
        # project the RAW sensor's metric list even when a rollup
        # serves: the rollup may carry extra columns or a different
        # column order than the raw sensor the caller asked about
        eff_metrics = metrics
        if source != sensor and eff_metrics is None:
            eff_metrics = self.catalog.get_config(db, sensor).metrics
        df = self.read(db, source, start_ts, end_ts, eff_metrics, key=self.admin_key)
        if df is None:
            return None
        value_cols = [c for c in df.columns if c != TS_COL]
        out = downsample_max_datapoints(
            # floor, not cast: cast('long') truncates toward zero,
            # shifting pre-1970 bucket assignment by one second
            df.withColumn("__ts_l", F.floor(F.col(TS_COL)).cast("long")),
            ts_sec_col="__ts_l",
            start_sec=int(start_ts),
            end_sec=int(end_ts),
            max_datapoints=max_datapoints,
            series_cols=[],
            value_cols=[TS_COL, *value_cols],
            # sub-second grids: several rows share one truncated second
            # — the real (double) timestamp breaks the tie so 'first'
            # is the true earliest row, not shuffle order
            tiebreak_cols=[TS_COL],
        )
        return out.drop("bucket_s").orderBy(TS_COL)

    # ------------------------------------------------------------------
    # aggregates (A1)
    # ------------------------------------------------------------------
    def get_last_timestamp(
        self, db: str, sensor: str, key: str | None = None
    ) -> float | None:
        """Max timestamp. The reference reads only the last chunk and
        requires READ auth (database.py:522-546); here the max chunk
        comes from the partition-directory listing (driver metadata,
        no job) and ONE pruned job scans just that partition — Parquet
        column stats make the max within it cheap."""
        from .auth import Action

        self._auth(Action.READ, db=db, sensor=sensor, key=key)
        cfg = self.catalog.get_config(db, sensor)
        last = None
        for entry in self.catalog.list_data_partitions(db, sensor):
            if entry.startswith(f"{PART_COL}="):
                try:
                    v = float(entry.split("=", 1)[1])
                except ValueError:
                    continue
                if last is None or v > last[0]:
                    last = (v, entry)
        if last is None:
            return None
        # serving fast path: parquet row-group STATS of the max chunk's
        # files answer this in ~ms (the reference reads only the last
        # chunk too, database.py:522-546); fall back to one pruned
        # Spark job on object-store URIs or stat-less files
        try:
            mx = self._last_ts_from_stats(db, sensor, last[1])
            if mx is not None:
                return mx
        except Exception:  # noqa: BLE001 — stats are an optimization only
            pass
        df = self._read_raw(db, sensor, cfg)
        if df is None:
            return None
        row = df.filter(F.col(PART_COL) == last[0]).select(F.max(TS_COL)).first()
        return row[0]

    def _last_ts_from_stats(
        self, db: str, sensor: str, entry: str
    ) -> float | None:
        """Max ts_sec of one chunk partition from parquet column
        statistics — no data read at all.  None if the storage isn't
        local or any row group lacks stats (then the caller runs the
        pruned Spark scan)."""
        import os

        import pyarrow.parquet as pq

        d = self._local_data_dir(db, sensor)
        if d is None:
            return None
        best: float | None = None
        for fn in sorted(os.listdir(os.path.join(d, entry))):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, entry, fn)).metadata
            try:
                ts_idx = md.schema.names.index(TS_COL)
            except ValueError:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ts_idx).statistics
                if st is None or not st.has_min_max:
                    return None
                if best is None or st.max > best:
                    best = float(st.max)
        return best


def _is_nan(x: Any) -> bool:
    try:
        return math.isnan(float(x))
    except (TypeError, ValueError):
        return str(x).lower() == "nan"
