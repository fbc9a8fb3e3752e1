"""Maintenance jobs — the Spark analogs of the reference CLI surface
(SURVEY §2.10): verify (X1), compression migration / compaction (X3),
retention-tiered codecs (X4), usage stats (A3).

Parquet footers already detect truncation (the reference's main
corruption mode, fileutils.py:598-635), so "verify" here is the
semantic part: per-partition row accounting + optional checksum-column
audit; "repair" (X2) degenerates to dropping unreadable files.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from ..engine import PART_COL, TS_COL, OngTsdbSpark
from ..pandas_edge import flatten_metrics


@dataclass
class SensorStats:
    db: str
    sensor: str
    n_chunks: int
    n_rows: int
    min_ts: float | None
    max_ts: float | None
    duplicate_ts: int
    off_grid: int


def verify_sensor(engine: OngTsdbSpark, db: str, sensor: str) -> SensorStats:
    """X1/A3 — one distributed pass: per-partition row counts, ts
    bounds, duplicate grid positions (there must be none: the upsert
    guarantees one row per grid cell), and off-grid timestamps
    (snap(ts) != ts would mean a corrupted write path)."""
    cfg = engine.catalog.get_config(db, sensor)
    grid = cfg.grid
    df = engine._read_stored(
        db, sensor, cfg, [e for _, e in engine._chunk_dirs(db, sensor)]
    )
    if df is None:
        return SensorStats(db, sensor, 0, 0, None, None, 0, 0)
    snapped = grid.snap_expr(F.col(TS_COL)).cast("double")
    row = df.select(
        F.countDistinct(PART_COL).alias("n_chunks"),
        F.count("*").alias("n_rows"),
        F.min(TS_COL).alias("min_ts"),
        F.max(TS_COL).alias("max_ts"),
        (F.count("*") - F.countDistinct(TS_COL)).alias("duplicate_ts"),
        F.sum((snapped != F.col(TS_COL)).cast("long")).alias("off_grid"),
    ).first()
    return SensorStats(
        db,
        sensor,
        row["n_chunks"],
        row["n_rows"],
        row["min_ts"],
        row["max_ts"],
        row["duplicate_ts"],
        row["off_grid"] or 0,
    )


def verify_all(engine: OngTsdbSpark) -> list[SensorStats]:
    out = []
    for db in engine.catalog.get_dbs():
        for sensor in engine.catalog.get_sensors(db):
            out.append(verify_sensor(engine, db, sensor))
    return out


def apply_retention(
    engine: OngTsdbSpark, db: str, sensor: str, older_than_ts: float
) -> int:
    """X4-adjacent: drop whole chunk partitions strictly older than
    the cutoff — a pure partition-directory delete, no data scan or
    rewrite (the lifecycle-policy analog of the reference's
    compression tiering).  Partitions *containing* the cutoff are
    kept (rows are only removed at chunk granularity, like deleting
    the reference's chunk files).  Returns partitions dropped."""
    cfg = engine.catalog.get_config(db, sensor)
    grid = cfg.grid
    cutoff_chunk = grid.chunk_start(float(older_than_ts))
    if not engine.catalog.data_exists(db, sensor):
        return 0
    dropped = 0
    with engine._sensor_lock(db, sensor), engine._file_lock(db, sensor):
        for entry in engine.catalog.list_data_partitions(db, sensor):
            if not entry.startswith(f"{PART_COL}="):
                continue
            try:
                part = float(entry.split("=", 1)[1])
            except ValueError:
                continue
            if part < cutoff_chunk:
                engine.catalog.delete_data_partition(db, sensor, entry)
                dropped += 1
        if dropped:
            engine.catalog.bump_version(db, sensor)
    return dropped


def compact_sensor(
    engine: OngTsdbSpark,
    db: str,
    sensor: str,
    codec: str = "zstd",
    keep_recent_chunks: int = 0,
) -> int:
    """X3/X4 — rewrite cold partitions with the given codec and
    coalesce small files (the reference rewrites whole chunk files,
    fileutils.py:777-954; here it's a partition-pruned read->write).
    ``keep_recent_chunks`` leaves the hottest partitions untouched
    (the reference's uncompressed_chunks policy, chunker.py:65-72).
    The rewrite is the upsert's fold with no batch: cells that predate
    a metric are written as its fill value, and the write runs on up
    to ``defaultParallelism`` tasks with one file per chunk.  Returns
    the number of partitions rewritten."""
    with engine._sensor_lock(db, sensor), engine._file_lock(db, sensor):
        cfg = engine.catalog.get_config(db, sensor)
        # partition-directory listing (driver metadata, no data scan)
        # instead of a full-scan distinct — at 100 TB chunk cardinality
        # the listing is object-store metadata, the distinct is a job
        parts = sorted(engine._chunk_dirs(db, sensor))
        # max(..., 0): keep_recent_chunks > partition count must keep
        # EVERYTHING (a negative slice bound would wrap and compact
        # the oldest chunk the policy says to leave untouched)
        cold = parts[: max(len(parts) - keep_recent_chunks, 0)] if keep_recent_chunks else parts
        if not cold:
            return 0
        # only the cold dirs are read; the hot ones are never listed
        cold_df = engine._read_stored(db, sensor, cfg, [e for _, e in cold])
        # the RETURN value counts partitions that actually hold rows,
        # not listed directories: dynamic overwrite only touches
        # partitions with data, and stale/empty directories (possible
        # after prior dynamic-overwrite rewrites) or float-unparseable
        # names must not inflate the count.  One extra column-pruned
        # pass over the cold slice — negligible next to the rewrite,
        # which reads every cold row anyway.
        rewritten = cold_df.select(PART_COL).distinct().count()
        if rewritten == 0:
            return 0
        known = flatten_metrics(cfg.metrics)
        width = min(max(1, engine.spark.sparkContext.defaultParallelism), rewritten)
        engine._fold_and_write(
            db, sensor, engine._fold_input(cold_df, cfg, known), known, width, codec=codec
        )
        engine.catalog.bump_version(db, sensor)
        return rewritten
