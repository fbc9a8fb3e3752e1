"""HTTP façade — the reference's Flask server surface
(src/ong_tsdb/server.py) over the Spark engine.

Route-for-route parity: influx ingest (``/influx[/fill_value]``),
range reads (``/<db>/<sensor>/read_df``), last-timestamp / metrics /
metadata, grafana ``/query`` (maxDataPoints thinning), and db/sensor
DDL — with HTTP Basic auth whose password is the token
(auth_required, server.py:91-104).

Wire format: ``read_df`` serves the reference's BYTE-LEVEL payload by
default (S9 — base64(+zlib) of float64 dates ++ float32 values,
server.py:339-385), so the reference's own ``OngTsdbClient`` can read
from this façade; pass ``{"format": "json"}`` (or an
``Accept: application/json`` header) for the JSON façade shape
``{"dates": [epoch_s], "values": [[...]], "metrics": [...],
"metadata": {...}}``.  ``/influx_binary`` accepts the reference
client's msgpack tuples (server.py:317-327) via the stdlib-only codec
in ``sources/msgpack_lite.py``.
"""

from __future__ import annotations

import base64
import hashlib
import math
import os
import zlib
from typing import Any

from flask import Flask, jsonify, request

from .. import __version__
from ..auth import NotAuthorizedError
from ..catalog import ElementAlreadyExistsError, ElementNotFoundError
from ..engine import TS_COL, OngTsdbSpark
from ..pandas_edge import flatten_metrics
from ..sources.influx import parse_lines
from ..streaming.ingest import upsert_parsed_batch

#: reference HTTP_COMPRESS_THRESHOLD (__init__.py): compress read_df
#: payloads only past this many date bytes
HTTP_COMPRESS_THRESHOLD = 1024


def _unpack_msgpack(data: bytes):
    """Prefer a real msgpack wheel when present; fall back to the
    bundled pure-Python subset codec (public spec)."""
    try:
        import msgpack  # type: ignore

        return msgpack.loads(data)
    except ImportError:
        from ..sources.msgpack_lite import unpackb

        return unpackb(data)


def _token() -> str | None:
    auth = request.authorization
    if auth and auth.password:
        return auth.password
    hdr = request.headers.get("Authorization", "")
    if hdr.startswith("Bearer "):
        return hdr[len("Bearer "):]
    return None


def _clean(v: float | None) -> float | None:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def create_app(engine: OngTsdbSpark) -> Flask:
    app = Flask("ong_tsdb_spark")

    @app.errorhandler(NotAuthorizedError)
    def _unauthorized(e):  # noqa: ANN001
        return jsonify(error=str(e)), 401

    @app.errorhandler(ElementNotFoundError)
    def _missing(e):  # noqa: ANN001
        return jsonify(error=str(e)), 404

    @app.errorhandler(ElementAlreadyExistsError)
    def _exists(e):  # noqa: ANN001
        return jsonify(error=str(e)), 409

    @app.get("/")
    def hello():
        """Liveness check (reference server.py:118-122)."""
        return jsonify(
            msg=f"Hello from Ong_Tsdb server\nVersion {__version__}",
            ok=True,
            version=__version__,
        )

    # -- DDL ----------------------------------------------------------
    @app.post("/db/<db>")
    def create_db(db: str):
        engine.create_db(db, key=_token())
        return jsonify(ok=True), 201

    @app.delete("/db/<db>")
    def delete_db(db: str):
        engine.delete_db(db, key=_token())
        return jsonify(ok=True)

    @app.post("/db/<db>/sensor/<sensor>")
    def create_sensor(db: str, sensor: str):
        body: dict[str, Any] = request.get_json(force=True)
        engine.create_sensor(
            db,
            sensor,
            freq=body["period"],
            metrics=body["metrics"],
            metadata=body.get("metadata") or {},
            read_key=body.get("read_key", ""),
            write_key=body.get("write_key", ""),
            key=_token(),
        )
        return jsonify(ok=True), 201

    @app.delete("/db/<db>/sensor/<sensor>")
    def delete_sensor(db: str, sensor: str):
        engine.delete_sensor(db, sensor, key=_token())
        return jsonify(ok=True)

    # reference path shape: GET on the resource, 200/404 by existence
    # (server.py:148-156,186-196); the /exist aliases return the bool
    @app.get("/db/<db>")
    def exist_db_ref(db: str):
        if engine.exist_db(db):
            return jsonify(ok=True, msg=f"Database {db} exists", version=__version__)
        return jsonify(ok=False, msg=f"Database {db} does not exist"), 404

    @app.get("/db/<db>/sensor/<sensor>")
    def exist_sensor_ref(db: str, sensor: str):
        if engine.exist_sensor(db, sensor):
            return jsonify(ok=True, msg=f"Sensor {sensor} and database {db} exist")
        return jsonify(ok=False, msg=f"Sensor {sensor} or database {db} do not exists"), 404

    @app.get("/db/<db>/exist")
    def exist_db(db: str):
        return jsonify(exists=engine.exist_db(db))

    @app.get("/db/<db>/sensor/<sensor>/exist")
    def exist_sensor(db: str, sensor: str):
        return jsonify(exists=engine.exist_sensor(db, sensor))

    # -- ingest (S5) --------------------------------------------------
    def _body_bytes() -> bytes:
        data = request.get_data()
        if request.headers.get("Content-Encoding", "") == "gzip":
            # MAX_WBITS|32 auto-detects zlib AND real gzip (RFC 1952)
            # streams — plain decompress() rejects gzip's 1f 8b header,
            # 500ing every standard client that honors the label
            data = zlib.decompress(data, zlib.MAX_WBITS | 32)
        return data

    def _parse_fill(fill_value):
        """URL fill segment -> float, or None for a 400 (a bare
        ValueError would 500)."""
        try:
            return (
                float("nan")
                if str(fill_value).lower() == "nan"
                else float(fill_value)
            )
        except ValueError:
            return None

    def _anon_write_rejected():
        """Cheap pre-Spark gate: when auth is enabled, a request with
        NO token can never pass any key check — reject it before
        building DataFrames and running jobs (the reference checks
        auth first via its route decorator, server.py:214-293).
        Requests WITH a token still get the per-sensor key check
        inside the upsert, which is the real authority."""
        return engine.admin_key is not None and _token() is None

    @app.post("/influx", defaults={"fill_value": 0.0})
    @app.post("/influx/<fill_value>")
    def influx(fill_value):
        fv = _parse_fill(fill_value)
        if fv is None:
            return jsonify(ok=False, error=f"bad fill_value {fill_value!r}"), 400
        if _anon_write_rejected():
            return jsonify(ok=False, error="authentication required"), 401
        lines = _body_bytes().decode().splitlines()
        lines = [l for l in lines if l.strip()]
        if not lines:
            return jsonify(ok=False, error="empty body"), 400
        ldf = engine.spark.createDataFrame([(l,) for l in lines], "line string")
        # one parser (the streaming ingest's), then the same per-sensor
        # batch upsert as /influx_binary.  Auth: the upsert enforces
        # per-sensor write keys with the caller's token (reference
        # server.py:214-293 decorator)
        upsert_parsed_batch(engine, parse_lines(ldf), fill_value=fv, key=_token())
        return jsonify(ok=True, points=len(lines), version=__version__)

    @app.post("/influx_binary", defaults={"fill_value": 0.0})
    @app.post("/influx_binary/<fill_value>")
    def influx_binary(fill_value):
        """The reference client's msgpack write path (S6 — reference
        server.py:317-327): an array of (db, sensor, metrics, values,
        ts_ns) tuples.  Grouped per db and handed to the engine's batch
        upsert, which runs the per-sensor writes as CONCURRENT Spark
        jobs — an N-sensor payload costs ~ the slowest sensor, not N
        serialized jobs (the reference loops serially,
        server.py:214-293)."""
        fv = _parse_fill(fill_value)
        if fv is None:
            return jsonify(ok=False, error=f"bad fill_value {fill_value!r}"), 400
        if _anon_write_rejected():
            return jsonify(ok=False, error="authentication required"), 401
        try:
            tuples = _unpack_msgpack(_body_bytes())
        except Exception as e:  # malformed payload
            return jsonify(ok=False, error=f"bad msgpack body: {e}"), 400
        if not isinstance(tuples, list) or not tuples:
            return jsonify(ok=False, error="empty body"), 400
        by_db: dict[str, dict[str, list]] = {}
        try:
            for db, sensor, columns, values, ts_ns in tuples:
                pts = by_db.setdefault(db, {}).setdefault(sensor, [])
                for m, v in zip(columns, values):
                    pts.append((m, v, float(ts_ns) / 1e9))
        except (TypeError, ValueError) as e:
            return jsonify(ok=False, error=f"bad tuple shape: {e}"), 400
        for db, per_sensor in by_db.items():
            engine.write_points_multi(db, per_sensor, fill_value=fv, key=_token())
        return jsonify(ok=True, points=len(tuples), version=__version__)

    # -- reads --------------------------------------------------------
    @app.post("/<db>/<sensor>/read_df")
    def read_df(db: str, sensor: str):
        body = request.get_json(force=True) or {}
        want_json = body.get("format") == "json" or (
            request.accept_mimetypes["application/json"]
            > request.accept_mimetypes["application/octet-stream"]
            and "application/json" in request.headers.get("Accept", "")
        )
        cfg = engine.catalog.get_config(db, sensor)
        if want_json:
            df = engine.read(
                db,
                sensor,
                start_ts=body.get("start_ts"),
                end_ts=body.get("end_ts"),
                metrics=body.get("metrics"),
                key=_token(),
            )
            metrics = body.get("metrics") or cfg.metrics
            flat = flatten_metrics(metrics)
            rows = [] if df is None else df.collect()
            return jsonify(
                dates=[r[TS_COL] for r in rows],
                values=[[_clean(r[m]) for m in flat] for r in rows],
                metrics=metrics,
                metadata=cfg.metadata,
            )

        # S9 byte-level wire parity (reference server.py:339-385): the
        # payload is base64(float64-dates-bytes ++ float32-values-bytes)
        # keyed by len(dates_bytes); ALL metrics are returned (the
        # reference client slices columns client-side), zlib-compressed
        # past the threshold when the caller advertises gzip.
        df = engine.read(
            db, sensor, start_ts=body.get("start_ts"), end_ts=body.get("end_ts"),
            key=_token(),
        )
        if df is None:
            return jsonify(msg="No data", ok=False, version=__version__), 404
        pdf = df.toPandas()
        flat = flatten_metrics(cfg.metrics)
        bytes_dates = pdf[TS_COL].to_numpy(dtype="float64").tobytes()
        bytes_values = (
            pdf[flat].to_numpy(dtype="float32").tobytes() if len(pdf) else b""
        )
        encoded = base64.encodebytes(bytes_dates + bytes_values)
        compressed = (
            len(bytes_dates) > HTTP_COMPRESS_THRESHOLD
            and request.headers.get("content-encoding", "") == "gzip"
        )
        if compressed:
            encoded = zlib.compress(encoded)
        return jsonify(
            {
                str(len(bytes_dates)): encoded.decode("ISO-8859-1"),
                "metrics": cfg.metrics,
                "metadata": cfg.metadata,
                "compressed": compressed,
                "version": __version__,
            }
        )

    @app.post("/<db>/<sensor>/last_timestamp")
    def last_timestamp(db: str, sensor: str):
        return jsonify(
            last_timestamp=engine.get_last_timestamp(db, sensor, key=_token())
        )

    # /search is what a pointed Grafana datasource actually calls for
    # target discovery — an alias of /metrics (reference server.py:479-483)
    @app.post("/<db>/<sensor>/metrics")
    @app.post("/<db>/<sensor>/search")
    def metrics(db: str, sensor: str):
        return jsonify(engine.get_metrics(db, sensor, key=_token()))

    @app.get("/get_md5/<path:filename>")
    def get_md5(filename: str):
        """MD5 of a file under the catalog base dir; path traversal is
        blocked (reference server.py:486-498)."""
        from ..auth import Action

        engine._auth(Action.READ, key=_token())
        base = os.path.realpath(engine.catalog.base_dir)
        full_path = os.path.realpath(os.path.join(base, filename))
        if not full_path.startswith(base + os.sep) and full_path != base:
            return jsonify(msg="Invalid path", ok=False), 400
        if not os.path.isfile(full_path):
            return jsonify(msg="File not found", ok=False), 404
        h = hashlib.md5()
        with open(full_path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        return jsonify(md5=h.hexdigest())

    @app.post("/<db>/<sensor>/metadata")
    def metadata(db: str, sensor: str):
        return jsonify(engine.get_metadata(db, sensor, key=_token()))

    @app.post("/db/<db>/sensor/<sensor>/set_metadata")
    def set_metadata(db: str, sensor: str):
        engine.update_metadata(db, sensor, request.get_json(force=True), key=_token())
        return jsonify(ok=True)

    # -- grafana /query (W1) ------------------------------------------
    @app.get("/<db>/<sensor>")
    def grafana_index(db: str, sensor: str):
        """Grafana datasource test endpoint (reference server.py:399-410);
        the auth token is intentionally not echoed back."""
        return jsonify(db=db, sensor=sensor)

    def _range_ts(v) -> float:
        """Grafana range bound -> epoch seconds.  Real Grafana JSON
        datasources send ISO-8601 strings ('2026-08-15T10:00:00.000Z');
        numeric epochs (the reference's own tests) pass through."""
        try:
            return float(v)
        except (TypeError, ValueError):
            import pandas as pd

            return pd.Timestamp(v).timestamp()

    @app.post("/<db>/<sensor>/query")
    def query(db: str, sensor: str):
        body = request.get_json(force=True)
        start = _range_ts(body["range"]["from"])
        end = _range_ts(body["range"]["to"])
        # 0/negative maxDataPoints would divide by zero in the spread
        maxdp = max(1, int(body.get("maxDataPoints", 100)))
        targets = [t["target"] for t in body.get("targets", [])] or None
        df = engine.read_downsampled(
            db, sensor, start, end, maxdp, metrics=targets, key=_token()
        )
        cfg = engine.catalog.get_config(db, sensor)
        names = flatten_metrics(targets or cfg.metrics)
        out = []
        rows = df.collect() if df is not None else []
        for m in names:
            dps = [
                [_clean(r[m]), int(r[TS_COL] * 1000)]
                for r in rows
                if _clean(r[m]) is not None  # P6: NaN skip (server.py:454)
            ]
            out.append({"target": m, "datapoints": dps})
        return jsonify(out)

    @app.get("/config_reload")
    @app.post("/config_reload")  # the reference exposes POST (server.py:112)
    def config_reload():
        return jsonify(ok=True, version=__version__)  # catalog always fresh (M6)

    return app
