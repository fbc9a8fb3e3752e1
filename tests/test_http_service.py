"""HTTP façade tests — the reference's server routes driven through
the Flask test client (the reference's own hermetic pattern,
tests/test_write_point_list.py / test_server_module_layout.py).
"""

from __future__ import annotations

import base64

import pytest

from ong_tsdb_spark import OngTsdbSpark
from ong_tsdb_spark.service.server import create_app


@pytest.fixture()
def client(spark, tmp_path):
    eng = OngTsdbSpark(spark, str(tmp_path / "http_db"), admin_key="admintoken")
    app = create_app(eng)
    app.testing = True
    return app.test_client()


def _auth(token: str) -> dict:
    cred = base64.b64encode(f"token:{token}".encode()).decode()
    return {"Authorization": f"Basic {cred}"}


def test_ddl_auth_and_lifecycle(client):
    # no token -> 401
    assert client.post("/db/iot").status_code == 401
    assert client.post("/db/iot", headers=_auth("wrong")).status_code == 401
    assert client.post("/db/iot", headers=_auth("admintoken")).status_code == 201
    # duplicate -> 409
    assert client.post("/db/iot", headers=_auth("admintoken")).status_code == 409
    assert client.get("/db/iot/exist").get_json()["exists"] is True
    r = client.post(
        "/db/iot/sensor/power",
        json={"period": "1s", "metrics": ["active", "reactive"]},
        headers=_auth("admintoken"),
    )
    assert r.status_code == 201
    assert client.get("/db/iot/sensor/power/exist").get_json()["exists"] is True
    # missing sensor read: authenticated -> 404; unauthenticated -> 401
    # (auth precedes existence, reference _check_auth database.py:170-187)
    assert client.post("/iot/nope/metrics", headers=_auth("admintoken")).status_code == 404
    assert client.post("/iot/nope/metrics").status_code == 401


def test_influx_write_then_read_df(client):
    client.post("/db/iot", headers=_auth("admintoken"))
    client.post(
        "/db/iot/sensor/power",
        json={"period": "1s", "metrics": ["active", "reactive"]},
        headers=_auth("admintoken"),
    )
    t0 = 1672617600
    lines = "\n".join(
        [
            f"iot,key=power active=1.5,reactive=2.5 {t0 * 10**9}",
            f"iot,key=power active=3.5 {(t0 + 1) * 10**9}",
        ]
    )
    # keyless sensor + admin_key set: unauthenticated callers are
    # denied (reference: only the admin key opens keyless sensors)
    assert client.post("/influx", data=lines).status_code == 401
    r = client.post("/influx", data=lines, headers=_auth("admintoken"))
    assert r.status_code == 200 and r.get_json()["points"] == 2
    assert client.post("/iot/power/read_df", json={"start_ts": t0}).status_code == 401
    r = client.post(
        "/iot/power/read_df",
        json={"start_ts": t0, "format": "json"},
        headers=_auth("admintoken"),
    )
    body = r.get_json()
    assert body["dates"] == [float(t0), float(t0 + 1)]
    assert body["values"][0] == [1.5, 2.5]
    assert body["values"][1] == [3.5, None]  # NaN cell -> null on the wire
    assert body["metrics"] == ["active", "reactive"]
    # last_timestamp + metrics routes need READ auth (ADVICE r1)
    assert client.post("/iot/power/last_timestamp").status_code == 401
    assert client.post("/iot/power/metrics").status_code == 401
    hdr = _auth("admintoken")
    assert (
        client.post("/iot/power/last_timestamp", headers=hdr).get_json()["last_timestamp"]
        == t0 + 1
    )
    assert client.post("/iot/power/metrics", headers=hdr).get_json() == [
        "active",
        "reactive",
    ]


def test_msgpack_lite_roundtrip():
    from ong_tsdb_spark.sources.msgpack_lite import packb, unpackb

    payload = [
        ["iot", "power", ["active", "reactive"], [1.5, -2.5], 1672617600000000000],
        ["iot", "power", ["active"], [3.5], 1672617601 * 10**9],
    ]
    assert unpackb(packb(payload)) == payload
    # scalar coverage: fixint/negative/wide ints, floats, strs, nil, bool
    vals = [0, 1, 127, 128, 255, 256, 65535, 65536, 2**40, -1, -32, -33,
            -129, -65536, -(2**40), 1.25, "x" * 40, None, True, False,
            b"\x00\xff", {"k": [1, 2]}]
    assert unpackb(packb(vals)) == vals


def test_msgpack_lite_truncation_raises():
    """Round-2 ADVICE low: every truncation of an untrusted body must
    raise MsgpackError — never a silent short bytes value or a bare
    struct.error leaking through the /influx_binary 400 handler."""
    from ong_tsdb_spark.sources.msgpack_lite import MsgpackError, packb, unpackb

    payload = packb([b"\x01" * 300, "s" * 300, 2**40, 1.25, [1, 2, 3]])
    for cut in range(len(payload)):
        with pytest.raises(MsgpackError):
            unpackb(payload[:cut])


def test_influx_binary_route(client):
    """S6: the reference client's msgpack tuple write
    (reference server.py:317-327, tests/test_write_point_list.py)."""
    from ong_tsdb_spark.sources.msgpack_lite import packb

    hdr = _auth("admintoken")
    client.post("/db/iot", headers=hdr)
    client.post(
        "/db/iot/sensor/power",
        json={"period": "1s", "metrics": ["active", "reactive"]},
        headers=hdr,
    )
    t0 = 1672617600
    body = packb(
        [
            ["iot", "power", ["active", "reactive"], [1.5, 2.5], t0 * 10**9],
            ["iot", "power", ["active"], [3.5], (t0 + 1) * 10**9],
        ]
    )
    assert client.post("/influx_binary", data=body).status_code == 401  # no token
    r = client.post("/influx_binary", data=body, headers=hdr)
    assert r.status_code == 200 and r.get_json()["points"] == 2
    r = client.post(
        "/iot/power/read_df", json={"start_ts": t0, "format": "json"}, headers=hdr
    )
    assert r.get_json()["values"] == [[1.5, 2.5], [3.5, None]]
    # malformed body -> 400
    assert client.post("/influx_binary", data=b"\xc1", headers=hdr).status_code == 400


def test_read_df_binary_wire(client):
    """S9: decode the default read_df payload exactly as the
    reference client does (client.py:540-567)."""
    import numpy as np

    hdr = _auth("admintoken")
    client.post("/db/iot", headers=hdr)
    client.post(
        "/db/iot/sensor/power",
        json={"period": "1s", "metrics": ["active", "reactive"]},
        headers=hdr,
    )
    t0 = 1672617600
    lines = f"iot,key=power active=1.5,reactive=2.5 {t0 * 10**9}"
    client.post("/influx", data=lines, headers=hdr)
    js = client.post("/iot/power/read_df", json={"start_ts": t0}, headers=hdr).get_json()
    assert js["version"]
    metrics = js.pop("metrics")
    js.pop("metadata")
    js.pop("version")
    assert js.pop("compressed") is False
    dates_len = int(next(iter(js.keys())))
    bts = base64.decodebytes(js[str(dates_len)].encode("ISO-8859-1"))
    dates = np.frombuffer(bts[:dates_len])
    values = np.frombuffer(bts[dates_len:], dtype=np.float32)
    values.shape = len(dates), len(metrics)
    assert list(dates) == [float(t0)]
    assert values[0, 0] == np.float32(1.5) and values[0, 1] == np.float32(2.5)
    # empty sensor -> 404 like the reference
    client.post(
        "/db/iot/sensor/empty", json={"period": "1s", "metrics": ["v"]}, headers=hdr
    )
    assert client.post("/iot/empty/read_df", json={"start_ts": 0}, headers=hdr).status_code == 404


def test_search_and_get_md5_routes(client, tmp_path):
    hdr = _auth("admintoken")
    client.post("/db/iot", headers=hdr)
    client.post(
        "/db/iot/sensor/power",
        json={"period": "1s", "metrics": ["active"]},
        headers=hdr,
    )
    # grafana target discovery alias
    assert client.post("/iot/power/search", headers=hdr).get_json() == ["active"]
    # md5 of a real file under the base dir (the sensor config JSON)
    r = client.get("/get_md5/iot/power/_sensor.json", headers=hdr)
    assert r.status_code == 200 and len(r.get_json()["md5"]) == 32
    # unauthenticated -> 401; missing file -> 404
    assert client.get("/get_md5/iot/power/_sensor.json").status_code == 401
    assert client.get("/get_md5/iot/power/nope.bin", headers=hdr).status_code == 404
    # path traversal is blocked
    assert client.get("/get_md5/../../etc/passwd", headers=hdr).status_code in (400, 404)
    assert client.get("/get_md5/..%2f..%2fetc%2fpasswd", headers=hdr).status_code in (400, 404)


def test_reference_path_aliases(client):
    """Route-table parity extras: GET / hello, GET-on-resource
    existence (200/404), grafana datasource index."""
    r = client.get("/")
    assert r.status_code == 200 and "Version" in r.get_json()["msg"]
    hdr = _auth("admintoken")
    assert client.get("/db/iot").status_code == 404
    client.post("/db/iot", headers=hdr)
    assert client.get("/db/iot").status_code == 200
    assert client.get("/db/iot/sensor/power").status_code == 404
    client.post(
        "/db/iot/sensor/power",
        json={"period": "1s", "metrics": ["active"]},
        headers=hdr,
    )
    assert client.get("/db/iot/sensor/power").status_code == 200
    assert client.get("/iot/power").get_json() == {"db": "iot", "sensor": "power"}


def test_grafana_query_route(client):
    client.post("/db/iot", headers=_auth("admintoken"))
    client.post(
        "/db/iot/sensor/m",
        json={"period": "1s", "metrics": ["v"]},
        headers=_auth("admintoken"),
    )
    t0 = 1672617600
    lines = "\n".join(
        f"iot,key=m v={i}.0 {(t0 + i) * 10**9}" for i in range(100)
    )
    client.post("/influx", data=lines, headers=_auth("admintoken"))
    r = client.post(
        "/iot/m/query",
        json={
            "range": {"from": t0, "to": t0 + 99},
            "maxDataPoints": 10,
            "targets": [{"target": "v"}],
        },
        headers=_auth("admintoken"),
    )
    out = r.get_json()
    assert out[0]["target"] == "v"
    assert len(out[0]["datapoints"]) == 10
    assert out[0]["datapoints"][0] == [0.0, t0 * 1000]


def test_influx_binary_multi_sensor_batch(client):
    """A payload naming several sensors lands in all of them through
    ONE engine batch call per db (engine.write_points_multi)."""
    from ong_tsdb_spark.sources.msgpack_lite import packb

    hdr = _auth("admintoken")
    client.post("/db/iot", headers=hdr)
    for s in ["s1", "s2", "s3"]:
        client.post(
            f"/db/iot/sensor/{s}",
            json={"period": "1s", "metrics": ["v"]},
            headers=hdr,
        )
    t0 = 1672617600
    body = packb(
        [["iot", s, ["v"], [float(i + 1)], (t0 + i) * 10**9]
         for i, s in enumerate(["s1", "s2", "s3"])]
    )
    r = client.post("/influx_binary", data=body, headers=hdr)
    assert r.status_code == 200 and r.get_json()["points"] == 3
    for i, s in enumerate(["s1", "s2", "s3"]):
        got = client.post(
            f"/iot/{s}/read_df", json={"start_ts": t0, "format": "json"}, headers=hdr
        ).get_json()
        assert got["values"] == [[float(i + 1)]]


def test_write_points_multi_runs_sensors_concurrently(spark, tmp_path, monkeypatch):
    """The batch upsert must overlap per-sensor writes (concurrent
    Spark jobs), not serialize them — wall-clock ~ slowest sensor."""
    import threading
    import time

    eng = OngTsdbSpark(spark, str(tmp_path / "multi"))
    state = {"active": 0, "peak": 0}
    gate = threading.Lock()

    def slow_write(db, sensor, pts, fill_value=0.0, key=None):
        with gate:
            state["active"] += 1
            state["peak"] = max(state["peak"], state["active"])
        time.sleep(0.25)
        with gate:
            state["active"] -= 1

    monkeypatch.setattr(eng, "write_points", slow_write)
    t0 = time.perf_counter()
    eng.write_points_multi(
        "d", {f"s{i}": [("v", 1.0, 1672617600.0)] for i in range(4)}
    )
    elapsed = time.perf_counter() - t0
    assert state["peak"] >= 2, "writes never overlapped"
    assert elapsed < 4 * 0.25, f"batch serialized: {elapsed:.2f}s"


def test_http_hardening_gzip_auth_and_bad_inputs(client):
    """Code-review r9 service fixes, at the route surface:
    - Content-Encoding: gzip bodies decode real RFC-1952 gzip streams
      (plain zlib.decompress rejected the 1f 8b header -> 500);
    - anonymous writes are rejected 401 BEFORE any Spark work when
      auth is enabled;
    - a non-numeric fill_value segment and maxDataPoints=0 are 4xx /
      handled, not 500s;
    - Grafana ISO-8601 range bounds parse."""
    import gzip as _gzip

    client.post("/db/iot", headers=_auth("admintoken"))
    client.post(
        "/db/iot/sensor/power",
        json={"period": "1s", "metrics": ["active"]},
        headers=_auth("admintoken"),
    )
    t0 = 1672617600
    body = _gzip.compress(f"iot,key=power active=7.5 {t0 * 10**9}\n".encode())
    r = client.post(
        "/influx",
        data=body,
        headers={**_auth("admintoken"), "Content-Encoding": "gzip"},
    )
    assert r.status_code == 200, r.get_data()

    # anonymous write: 401 up front (auth enabled in this fixture)
    r = client.post("/influx", data=b"iot,key=power active=1 1\n")
    assert r.status_code == 401

    # malformed fill_value -> 400, not 500
    assert client.post(
        "/influx/abc", data=b"x", headers=_auth("admintoken")
    ).status_code == 400
    assert client.post(
        "/influx_binary/abc", data=b"x", headers=_auth("admintoken")
    ).status_code == 400

    # grafana: ISO bounds + maxDataPoints 0 must not 500
    r = client.post(
        "/iot/power/query",
        json={
            "range": {
                "from": "2023-01-01T23:55:00.000Z",
                "to": "2023-01-02T00:10:00.000Z",
            },
            "maxDataPoints": 0,
            "targets": [{"target": "active"}],
        },
        headers=_auth("admintoken"),
    )
    assert r.status_code == 200, r.get_data()
    dps = r.get_json()[0]["datapoints"]
    assert [v for v, _ in dps] == [7.5]


def test_msgpack_lite_error_contract():
    """Every decode/encode failure is a MsgpackError (ValueError), so
    callers can map codec failures to 400s: invalid UTF-8 in str,
    unhashable map keys, and encode-side width overflows."""
    import pytest as _pytest

    from ong_tsdb_spark.sources.msgpack_lite import MsgpackError, packb, unpackb

    with _pytest.raises(MsgpackError):
        unpackb(b"\xa1\xff")  # fixstr len 1, invalid utf-8
    with _pytest.raises(MsgpackError):
        unpackb(b"\x81\x90\xc0")  # map keyed by an array
    with _pytest.raises(MsgpackError):
        packb(2**70)  # past uint64


def test_proxy_malformed_bodies_no_500():
    """Proxy robustness: a JSON-but-not-object login body fails as bad
    credentials (not AttributeError->500), and a challenge lacking a
    login url raises the documented ProxyNotAuthorizedError."""
    import json as _json

    import pytest as _pytest

    from ong_tsdb_spark.service.proxy import (
        MfaAuthProxy,
        ProxyNotAuthorizedError,
        negotiate_proxy_auth,
    )

    proxy = MfaAuthProxy(
        lambda e, s: [b""], users={"u": ("pw", "mfa")}
    )
    captured = {}

    def start_response(status, headers):
        captured["status"] = status

    import io

    for bad in (b"[]", b"123", b'"x"', b"null"):
        env = {
            "REQUEST_METHOD": "POST",
            "PATH_INFO": proxy.login_path,
            "CONTENT_LENGTH": str(len(bad)),
            "wsgi.input": io.BytesIO(bad),
        }
        out = b"".join(proxy(env, start_response))
        assert captured["status"].startswith("200")
        assert _json.loads(out)["http_code"] == 401  # bad creds, not a crash

    def challenge_without_url(method, path, headers, body):
        return (
            401,
            {"Content-Type": "application/json"},
            _json.dumps({"http_code": 407, "form": {}}).encode(),
        )

    with _pytest.raises(ProxyNotAuthorizedError, match="login url"):
        negotiate_proxy_auth(challenge_without_url, {"username": "u"})


def test_influx_edge_semantics(client):
    """/influx edge cases: an empty metric name (``=7``) is ignored, but
    a line with any field still makes its row exist; a non-numeric
    value (``m0=abc``) names the metric (schema growth) and writes no
    cell; a line without a timestamp lands at the current second; a
    body spanning two sensors writes both; an unknown sensor is a 404
    and the body's other sensors are still written."""
    import time

    hdr = _auth("admintoken")
    client.post("/db/b", headers=hdr)
    for s in ("s1", "s2"):
        client.post(f"/db/b/sensor/{s}", json={"period": "1s", "metrics": ["m0"]}, headers=hdr)
    t0 = 1672617600

    def rows(sensor):
        got = client.post(
            f"/b/{sensor}/read_df", json={"start_ts": 0, "format": "json"}, headers=hdr
        ).get_json()
        return got["metrics"], dict(zip(got["dates"], got["values"]))

    # only an empty metric name: nothing to write
    r = client.post("/influx", data=f"b,key=s1 =7 {t0 * 10**9}", headers=hdr)
    assert r.status_code == 200
    assert client.post("/b/s1/read_df", json={"start_ts": 0}, headers=hdr).status_code == 404

    body = "\n".join(
        [
            f"b,key=s1 m0=1.5,=7 {t0 * 10**9}",
            f"b,key=s1 m0=abc,m1=2 {(t0 + 1) * 10**9}",
            f"b,key=s1 =7 {(t0 + 2) * 10**9}",
            f"b,key=s2 m0=3 {t0 * 10**9}",
        ]
    )
    r = client.post("/influx", data=body, headers=hdr)
    assert r.status_code == 200 and r.get_json()["points"] == 4
    metrics, s1 = rows("s1")
    assert metrics == ["m0", "m1"]
    assert s1 == {t0: [1.5, None], t0 + 1: [None, 2.0], t0 + 2: [None, None]}
    assert rows("s2") == (["m0"], {t0: [3.0]})

    # a non-numeric value never overwrites a stored cell
    client.post("/influx", data=f"b,key=s1 m0=abc {t0 * 10**9}", headers=hdr)
    assert rows("s1")[1][t0] == [1.5, None]

    # no timestamp: the current second
    before = int(time.time())
    assert client.post("/influx", data="b,key=s2 m0=9", headers=hdr).status_code == 200
    after = int(time.time())
    late = {t: v for t, v in rows("s2")[1].items() if t != t0}
    assert len(late) == 1
    ((t, v),) = late.items()
    assert before <= t <= after and v == [9.0]

    # unknown sensor: 404 with the catalog's message; the known sensor
    # of the same body is still written
    r = client.post("/influx", data=f"b,key=nosuch m0=1 {t0 * 10**9}", headers=hdr)
    assert r.status_code == 404
    assert r.get_json()["error"] == "sensor b.nosuch not found"
    body = f"b,key=s2 m0=4 {(t0 + 3) * 10**9}\nb,key=nosuch m0=1 {t0 * 10**9}"
    assert client.post("/influx", data=body, headers=hdr).status_code == 404
    assert rows("s2")[1][t0 + 3] == [4.0]
