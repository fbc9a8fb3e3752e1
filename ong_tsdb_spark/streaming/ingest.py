"""Structured Streaming ingest for the influx line protocol.

The reference ingests synchronously over HTTP per batch
(examples/insert_loop.py:42-53); its semantics (SURVEY §2.11) are:
late data unconditionally accepted, duplicates/out-of-order resolved
by cell-level last-write-wins (database.py:447-486).  Spark-first
mapping: any line-delimited stream source (file dir, socket, Kafka)
-> the vectorized column-expression parser (sources/influx.py) ->
``foreachBatch`` running the engine's M1 upsert per micro-batch, with
the rows kept in Spark.  Lines that already sit in driver memory (an
``/influx`` body, a client call) take :func:`upsert_parsed_batch`
instead: the same parser, then one collect and the driver-batch
upsert (``engine.write_points_multi``).

No watermark is used *by design*: a watermark would drop late rows,
which the reference never does.  The upsert is idempotent per
(ts, metric, value), so at-least-once delivery from checkpointed
sources yields exactly-once visible state — for rows that CARRY a
timestamp.  Rows without one get the server-default "now" (the
reference's server_utils.py:16 semantic), which is processing-time:
a micro-batch replayed after a crash re-stamps those rows at the
replay time, so timestamp-less lines are at-least-once, not
exactly-once (documented caveat; the reference's synchronous HTTP
path has the same property when a client retries).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..engine import TS_COL, OngTsdbSpark
from ..sources.influx import parse_lines


def start_influx_file_stream(
    engine: OngTsdbSpark,
    input_dir: str,
    checkpoint_dir: str,
    default_db: str | None = None,
    default_sensor: str | None = None,
    fill_value: float = 0.0,
    trigger_once: bool = False,
    key: str | None = None,
    refresh_rollups: bool = False,
) -> StreamingQuery:
    """Stream line-protocol text files from ``input_dir`` into the
    engine.  One upsert per (db, sensor) group per micro-batch —
    mirroring the reference's write_point_list grouping
    (server.py:214-293).  With ``refresh_rollups`` the stream also
    maintains any materialized rollups registered on the written
    sensors (continuous aggregates): each micro-batch triggers an
    INCREMENTAL refresh over just the batch's time span, so
    ``read_downsampled`` keeps serving from the rollup with zero
    manual refresh jobs."""
    lines = engine.spark.readStream.format("text").load(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _upsert_micro_batch(engine, parse_lines(batch_df.withColumnRenamed("value", "line")),
                            default_db, default_sensor, fill_value, key, refresh_rollups)

    writer = (
        lines.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _targeted(
    parsed: DataFrame, default_db: str | None, default_sensor: str | None
) -> DataFrame:
    """Parsed lines with ``ts_sec`` and the default db / sensor filled
    in where a line names none.  ``ts_sec`` is ``ts_ns`` in seconds,
    or the current whole second for a line without a timestamp
    (server default, server_utils.py:16; processing-time — see the
    module docstring's replay caveat)."""
    parsed = parsed.withColumn(
        TS_COL,
        F.when(
            F.col("ts_ns").isNotNull(), F.col("ts_ns").cast("double") / F.lit(1e9)
        ).otherwise(F.unix_timestamp(F.current_timestamp()).cast("double")),
    )
    # parse_lines yields EMPTY STRINGS, not nulls, for absent parts
    # (regexp_extract no-match -> ''; split('')[0] -> '') — nullif
    # first or the defaults would be dead and rows would target a
    # sensor literally named ''
    if default_db is not None:
        parsed = parsed.withColumn(
            "db",
            F.coalesce(F.nullif(F.col("db"), F.lit("")), F.lit(default_db)),
        )
    if default_sensor is not None:
        parsed = parsed.withColumn(
            "sensor",
            F.coalesce(F.nullif(F.col("sensor"), F.lit("")), F.lit(default_sensor)),
        )
    return parsed


def upsert_parsed_batch(
    engine: OngTsdbSpark,
    parsed: DataFrame,
    default_db: str | None = None,
    default_sensor: str | None = None,
    fill_value: float = 0.0,
    key: str | None = None,
) -> None:
    """Upsert a parsed long-form batch (db, sensor, metric, value,
    ts_ns) whose lines came from driver memory — an ``/influx`` body,
    a client ``write`` call.  Missing ts -> current time.  The points
    come back in one collect and are upserted db by db with
    ``engine.write_points_multi``: every sensor of a db is attempted
    and the first error raised.  ``key`` is checked per sensor by the
    upsert (reference: per-sensor write keys, database.py:170-187).
    A streaming micro-batch is never collected: the stream keeps its
    rows in Spark (:func:`_upsert_micro_batch`)."""
    by_db: dict[str, dict[str, list]] = {}
    rows = _targeted(parsed, default_db, default_sensor).select(
        "db", "sensor", "metric", "value", TS_COL
    )
    for db, sensor, m, v, ts in rows.collect():
        pts = by_db.setdefault(db, {}).setdefault(sensor, [])
        pts.append((m, math.nan if v is None else v, ts))
    for db, per_sensor in by_db.items():
        engine.write_points_multi(db, per_sensor, fill_value=fill_value, key=key)


def _upsert_micro_batch(
    engine: OngTsdbSpark,
    parsed: DataFrame,
    default_db: str | None,
    default_sensor: str | None,
    fill_value: float,
    key: str | None,
    refresh_rollups: bool,
) -> None:
    """Upsert one parsed micro-batch without leaving Spark: one
    ``write_long_df`` per (db, sensor) target, in target order.
    ``refresh_rollups`` incrementally refreshes registered rollups of
    each written sensor over the batch's [min_ts, max_ts] span."""
    parsed = _targeted(parsed, default_db, default_sensor)
    # group by (db, sensor): tiny driver loop over *distinct sensors in
    # this batch* (bounded by catalog size, not data size), exactly the
    # reference's DbMeterData grouping; the per-sensor rows stay in
    # Spark end-to-end (write_long_df widens them distributedly)
    parsed = parsed.persist()
    try:
        # one tiny aggregate gives targets AND their batch time spans
        targets = parsed.groupBy("db", "sensor").agg(
            F.min(TS_COL).alias("__lo"), F.max(TS_COL).alias("__hi")
        ).collect()
        for row in targets:
            db, sensor = row["db"], row["sensor"]
            sub = parsed.filter((F.col("db") == db) & (F.col("sensor") == sensor))
            engine.write_long_df(
                db,
                sensor,
                sub.select("metric", "value", TS_COL),
                fill_value=fill_value,
                key=key,
            )
            if refresh_rollups:
                _refresh_rollups_of(engine, db, sensor, row["__lo"], row["__hi"])
    finally:
        parsed.unpersist()


def _refresh_rollups_of(
    engine: OngTsdbSpark, db: str, sensor: str, lo_ts: float, hi_ts: float
) -> None:
    """Incrementally refresh every rollup registered on ``sensor``
    (metadata rollup_of/rollup_agg, plans/rollup.py) over one batch's
    time span — cost O(batch span / rollup tick), not O(history)."""
    from ..plans.rollup import rollup_sensor

    if lo_ts is None or hi_ts is None:
        return
    import warnings

    for cand in engine.catalog.get_sensors(db):
        try:
            cfg = engine.catalog.get_config(db, cand)
        except Exception as ex:  # noqa: BLE001 — keep the stream alive, loudly
            # a sensor listed by the catalog but unreadable is a real
            # config problem: skipping silently would let a registered
            # rollup go stale with no signal anywhere
            warnings.warn(
                f"rollup refresh: cannot read config of {db}/{cand} "
                f"({ex}); its rollup (if any) was NOT refreshed",
                stacklevel=2,
            )
            continue
        md = cfg.metadata
        if md.get("rollup_of") != sensor:
            continue
        freq = cfg.freq
        rollup_sensor(
            engine, db, sensor, cand,
            freq=freq, agg=md.get("rollup_agg", "avg"),
            start_ts=float(lo_ts), end_ts=float(hi_ts),
        )
