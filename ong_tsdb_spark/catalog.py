"""Driver-side catalog: databases, sensors, and their configs.

Spark-native replacement for the reference's directory-per-db /
directory-per-sensor layout with a ``CONFIG.JSON`` per sensor
(reference ``src/ong_tsdb/fileutils.py:260-292``,
``src/ong_tsdb/database.py:53-57,208-298``).  One JSON file per sensor
under ``<base>/<db>/<sensor>/_sensor.json`` next to the sensor's
Parquet dataset; data files live in ``<base>/<db>/<sensor>/data/``
partitioned by ``chunk_start``.

Catalog operations are metadata-only and O(1), exactly like the
reference's mkdir/JSON writes, and go through a filesystem adapter
(:mod:`ong_tsdb_spark.object_store`): ``os`` calls for a plain path,
the JVM Hadoop FileSystem for a scheme-qualified base dir (at cluster
scale an object-store prefix).  The same class, and the same writer
lock and version file, serve both.

Multiindex metric names (list-of-lists) are stored as-is in JSON; the
flatten/unflatten codec for Parquet column names lives in
:mod:`ong_tsdb_spark.pandas_edge` (reference client rebuilds the pandas
MultiIndex only at the read edge, ``client.py:545-547``).
"""

from __future__ import annotations

import json
import posixpath
import re
from dataclasses import dataclass, field
from typing import Any

from .grid import Grid, parse_freq
from .locks import VERSION_NAME, SensorFileLock

CONFIG_NAME = "_sensor.json"
DATA_DIR = "data"

#: dots allowed inside names ('sensor.v2') but the pure-dot names '.'
#: and '..' are path aliases — db_path would escape the catalog root
#: and delete_db('..') would rmtree the PARENT directory (r9 review)
_SAFE_NAME = re.compile(r"^(?!\.+$)[A-Za-z0-9_\-.]+$")


class ElementAlreadyExistsError(Exception):
    """Parity with the reference's ElementAlreadyExistsException
    (database.py:189-206)."""


class ElementNotFoundError(Exception):
    pass


def _check_name(name: str) -> str:
    if not _SAFE_NAME.match(name):
        raise ValueError(f"invalid db/sensor name: {name!r}")
    return name


#: storage-schema column names (engine.TS_COL / engine.PART_COL) — a
#: metric with one of these names would be silently clobbered by the
#: write path (chunk_start overwritten by the partition key, ts_sec
#: filtered out as the timestamp), so reject at config-write time
RESERVED_COLUMNS = frozenset({"ts_sec", "chunk_start"})


def _check_metrics(metrics: Metrics) -> None:
    from .pandas_edge import flatten_metrics

    bad = RESERVED_COLUMNS.intersection(flatten_metrics(metrics))
    if bad:
        raise ValueError(
            f"metric names {sorted(bad)} collide with reserved storage "
            f"columns {sorted(RESERVED_COLUMNS)}"
        )


Metrics = list  # list[str] | list[list[str]] (multiindex)


@dataclass
class SensorConfig:
    """The five CONFIG.JSON keys of the reference (database.py:53-57)
    plus per-metric fill values for no-rewrite schema evolution."""

    freq: str
    metrics: Metrics
    metadata: dict[str, Any] = field(default_factory=dict)
    read_key: str = ""
    write_key: str = ""
    #: fill value for rows that predate each metric's addition
    #: (emulates add_new_metrics' fill without rewriting data;
    #: reference database.py:366-423). Keyed by flat metric name.
    fills: dict[str, float] = field(default_factory=dict)

    @property
    def grid(self) -> Grid:
        return Grid(parse_freq(self.freq))

    def to_json(self) -> dict[str, Any]:
        return {
            "freq": self.freq,
            "metrics": self.metrics,
            "metadata": self.metadata,
            "read_key": self.read_key,
            "write_key": self.write_key,
            "fills": self.fills,
        }

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "SensorConfig":
        return cls(
            freq=d["freq"],
            metrics=d["metrics"],
            metadata=d.get("metadata") or {},
            read_key=d.get("read_key", ""),
            write_key=d.get("write_key", ""),
            fills=d.get("fills") or {},
        )


class Catalog:
    """Catalog of databases and sensors over a filesystem adapter
    (:mod:`ong_tsdb_spark.object_store`: ``LocalFs`` for plain paths,
    ``HadoopFs`` for hdfs://, s3a://, file:/ ...)."""

    def __init__(self, base_dir: str, fs):
        self.base_dir = base_dir
        self.fs = fs
        fs.mkdirs(base_dir)

    # -- paths (slash joins: plain paths and URIs alike) ---------------
    def db_path(self, db: str) -> str:
        return posixpath.join(self.base_dir, _check_name(db))

    def sensor_path(self, db: str, sensor: str) -> str:
        return posixpath.join(self.db_path(db), _check_name(sensor))

    def data_path(self, db: str, sensor: str) -> str:
        return posixpath.join(self.sensor_path(db, sensor), DATA_DIR)

    def _config_path(self, db: str, sensor: str) -> str:
        return posixpath.join(self.sensor_path(db, sensor), CONFIG_NAME)

    def _version_path(self, db: str, sensor: str) -> str:
        return posixpath.join(self.sensor_path(db, sensor), VERSION_NAME)

    # -- databases (M3) -----------------------------------------------
    def exist_db(self, db: str) -> bool:
        return self.fs.isdir(self.db_path(db))

    def create_db(self, db: str) -> None:
        if self.exist_db(db):
            raise ElementAlreadyExistsError(f"database {db!r} already exists")
        self.fs.mkdirs(self.db_path(db))

    def delete_db(self, db: str) -> None:
        if not self.exist_db(db):
            raise ElementNotFoundError(f"database {db!r} not found")
        self.fs.delete(self.db_path(db))

    def get_dbs(self) -> list[str]:
        return sorted(
            d
            for d in self.fs.listdir(self.base_dir)
            if self.fs.isdir(posixpath.join(self.base_dir, d))
        )

    # -- sensors (M3/M4/M6) --------------------------------------------
    def exist_sensor(self, db: str, sensor: str) -> bool:
        return self.fs.isfile(self._config_path(db, sensor))

    def create_sensor(self, db: str, sensor: str, config: SensorConfig) -> None:
        if not self.exist_db(db):
            raise ElementNotFoundError(f"database {db!r} not found")
        if self.exist_sensor(db, sensor):
            raise ElementAlreadyExistsError(f"sensor {db}.{sensor} already exists")
        config.grid  # validate freq eagerly (raises on bad freq)
        self.fs.mkdirs(self.sensor_path(db, sensor))
        self._write_config(db, sensor, config)

    def delete_sensor(self, db: str, sensor: str) -> None:
        if not self.exist_sensor(db, sensor):
            raise ElementNotFoundError(f"sensor {db}.{sensor} not found")
        self.fs.delete(self.sensor_path(db, sensor))

    def get_sensors(self, db: str) -> list[str]:
        if not self.exist_db(db):
            raise ElementNotFoundError(f"database {db!r} not found")
        return sorted(
            s
            for s in self.fs.listdir(self.db_path(db))
            if self.fs.isfile(posixpath.join(self.db_path(db), s, CONFIG_NAME))
        )

    def get_config(self, db: str, sensor: str) -> SensorConfig:
        try:
            data = self.fs.read_bytes(self._config_path(db, sensor))
        except FileNotFoundError:
            raise ElementNotFoundError(f"sensor {db}.{sensor} not found") from None
        return SensorConfig.from_json(json.loads(data))

    def _write_config(self, db: str, sensor: str, config: SensorConfig) -> None:
        # atomic replace, like the reference's safe_createfile
        # (fileutils.py:325-376)
        _check_metrics(config.metrics)  # one chokepoint: create + growth
        self.fs.write_bytes_atomic(
            self._config_path(db, sensor), json.dumps(config.to_json()).encode()
        )

    def update_metadata(self, db: str, sensor: str, metadata: dict[str, Any]) -> None:
        """M4 — overwrite sensor metadata (database.py:287-298)."""
        cfg = self.get_config(db, sensor)
        cfg.metadata = metadata
        self._write_config(db, sensor, cfg)

    def update_config(self, db: str, sensor: str, config: SensorConfig) -> None:
        if not self.exist_sensor(db, sensor):
            raise ElementNotFoundError(f"sensor {db}.{sensor} not found")
        self._write_config(db, sensor, config)

    # -- data-dir + lock/version hooks (engine-facing) ----------------
    def data_exists(self, db: str, sensor: str) -> bool:
        return self.fs.isdir(self.data_path(db, sensor))

    def list_data_partitions(self, db: str, sensor: str) -> list[str]:
        p = self.data_path(db, sensor)
        return self.fs.listdir(p) if self.fs.isdir(p) else []

    def delete_data_partition(self, db: str, sensor: str, entry: str) -> None:
        self.fs.delete(posixpath.join(self.data_path(db, sensor), entry))

    def write_lock(self, db: str, sensor: str, timeout: float, stale_after: float):
        return SensorFileLock(
            self.sensor_path(db, sensor), timeout=timeout, stale_after=stale_after, fs=self.fs
        )

    def get_version(self, db: str, sensor: str) -> int:
        try:
            return int(self.fs.read_bytes(self._version_path(db, sensor)).strip() or 0)
        except (FileNotFoundError, ValueError):
            return 0

    def bump_version(self, db: str, sensor: str) -> int:
        """Increment the sensor's write version.  MUST be called while
        holding the sensor's write lock — the read-modify-replace is
        then race-free, and the atomic replace keeps readers atomic."""
        v = self.get_version(db, sensor) + 1
        self.fs.write_bytes_atomic(self._version_path(db, sensor), str(v).encode())
        return v
