"""Time-grid arithmetic: the Spark-native equivalent of the reference's
``Chunker`` (see reference ``src/ong_tsdb/chunker.py:32-114``).

The reference stores fixed-interval time series in dense chunk files of
``CHUNK_ROWS = 2**14`` ticks; a timestamp is *implicit* — reconstructed
from its row position inside a chunk.  In the Spark engine the timestamp
is an explicit column and the "chunk" becomes a Parquet partition keyed
by ``chunk_start``.  This module holds the pure arithmetic (driver-side
scalars for config/metadata decisions) and the Column-expression
factories (executor-side, Catalyst-optimizable — they compile to integer
math inside whole-stage codegen, never a Python UDF).

Semantics reproduced exactly (cited against the reference):

* frequency-string parsing (``"3s"``, ``"15m"``, ``"1h"``, ``"7d"``,
  pandas deprecated aliases H/T/S/L/U/N) — ``chunker.py:32-59``
* ``chunk_duration = CHUNK_ROWS * tick`` — ``chunker.py:60``
* ``chunk_timestamp(ts) = int(ts / chunk_duration) * chunk_duration``
  — ``chunker.py:74-76``
* ``getpos(ts) = int((ts - chunk_start) / tick)`` (snap-to-grid by
  truncation) — ``chunker.py:88-95``.  Deliberate deviation: we floor
  toward -inf instead of truncating toward zero so pre-1970 (negative)
  timestamps partition consistently between the driver scalars and the
  Catalyst ``F.floor`` expressions (identical for ts >= 0, which is
  the reference's only supported domain).
* calendar units are fixed-width UTC seconds (1d == 86400 s always;
  never ``date_trunc`` with a session timezone) — ``chunker.py:47-54``
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

#: rows per chunk in the reference (2**14) — reference __init__.py:29
CHUNK_ROWS = 16384

# Unit aliases -> seconds. Mirrors the reference's accepted spellings,
# including pandas' deprecated offset aliases (H/T/S/L/U/N).
_UNIT_SECONDS: dict[str, float] = {
    "s": 1.0,
    "sec": 1.0,
    "secs": 1.0,
    "second": 1.0,
    "seconds": 1.0,
    "S": 1.0,
    "m": 60.0,
    "min": 60.0,
    "mins": 60.0,
    "minute": 60.0,
    "minutes": 60.0,
    "T": 60.0,
    "h": 3600.0,
    "hr": 3600.0,
    "hour": 3600.0,
    "hours": 3600.0,
    "H": 3600.0,
    "d": 86400.0,
    "day": 86400.0,
    "days": 86400.0,
    "D": 86400.0,
    "w": 604800.0,
    "W": 604800.0,
    "ms": 1e-3,
    "L": 1e-3,
    "us": 1e-6,
    "U": 1e-6,
    "ns": 1e-9,
    "N": 1e-9,
}

_FREQ_RE = re.compile(r"^\s*(\d+(?:\.\d+)?)?\s*([a-zA-Z]+)\s*$")


class InvalidFrequencyError(ValueError):
    """Raised for unparseable frequency strings (chunker.py:56)."""


def parse_freq(freq: str) -> float:
    """Parse a frequency string like ``"15m"`` into tick seconds.

    A missing multiplier means 1 (``"h"`` == ``"1h"``). Unknown units
    raise :class:`InvalidFrequencyError`, like the reference.
    """
    if isinstance(freq, (int, float)):
        if freq <= 0:
            raise InvalidFrequencyError(f"non-positive frequency: {freq!r}")
        return float(freq)
    m = _FREQ_RE.match(str(freq))
    if not m:
        raise InvalidFrequencyError(f"cannot parse frequency: {freq!r}")
    mult_s, unit = m.groups()
    # Case-sensitive lookup first (T=min vs t invalid; S==s anyway),
    # falling back to lowercase for spellings like "Min" — EXCEPT the
    # pandas calendar aliases 'MS'/'M' (month-start/month-end), which
    # the lowercase fallback would silently read as milliseconds /
    # minutes: a caller asking for a monthly grid would get a 1 ms
    # tick and one partition directory per ~16 s of data.  Calendar
    # frequencies have no fixed tick and are unsupported — raise.
    if unit in ("MS", "M"):
        raise InvalidFrequencyError(
            f"calendar frequency {freq!r} (pandas month alias) has no "
            "fixed tick — use a fixed-width unit (ms, s, min, h, d, w)"
        )
    if unit in _UNIT_SECONDS:
        unit_s = _UNIT_SECONDS[unit]
    elif unit.lower() in _UNIT_SECONDS:
        unit_s = _UNIT_SECONDS[unit.lower()]
    else:
        raise InvalidFrequencyError(f"unknown frequency unit: {freq!r}")
    mult = float(mult_s) if mult_s else 1.0
    if mult <= 0:
        raise InvalidFrequencyError(f"non-positive frequency: {freq!r}")
    return mult * unit_s


@dataclass(frozen=True)
class Grid:
    """A sensor's time grid: tick duration + chunk span.

    Scalar methods are driver-side helpers (used for partition-pruning
    decisions and config); the ``*_expr`` methods build Catalyst column
    expressions that execute JVM-side.
    """

    tick_seconds: float

    @classmethod
    def from_freq(cls, freq: str) -> "Grid":
        return cls(parse_freq(freq))

    @property
    def chunk_duration(self) -> float:
        return CHUNK_ROWS * self.tick_seconds

    # -- driver-side scalar math ------------------------------------
    # floor (toward -inf), NOT int() (toward zero): the executor-side
    # *_expr use F.floor, and for pre-1970 (negative) timestamps a
    # truncating driver scalar would prune the partition the write
    # path actually chose — rows would silently vanish from reads.
    def chunk_start(self, ts_seconds: float) -> float:
        """Chunk window start for an epoch-seconds timestamp."""
        d = self.chunk_duration
        return math.floor(ts_seconds / d) * d

    def pos(self, ts_seconds: float) -> int:
        """Row position inside the chunk (0-based, flooring)."""
        return math.floor((ts_seconds - self.chunk_start(ts_seconds)) / self.tick_seconds)

    def snap(self, ts_seconds: float) -> float:
        """Snap an off-grid timestamp down to the tick grid."""
        return self.chunk_start(ts_seconds) + self.pos(ts_seconds) * self.tick_seconds

    # -- Catalyst column expressions ---------------------------------
    def chunk_start_expr(self, ts_sec: Column) -> Column:
        """``floor(ts/chunk_duration)*chunk_duration`` as a LongType col.

        Integer-friendly: when the tick is a whole number of seconds the
        result is exact ``bigint`` math (no float rounding).
        """
        return _floor_to_expr(ts_sec, self.chunk_duration)

    def snap_expr(self, ts_sec: Column) -> Column:
        """Snap an epoch-seconds column down to the tick grid."""
        return _floor_to_expr(ts_sec, self.tick_seconds)

    def pos_expr(self, ts_sec: Column) -> Column:
        """Row position within the chunk (parity with Chunker.getpos)."""
        return F.floor((ts_sec - self.chunk_start_expr(ts_sec)) / F.lit(self.tick_seconds)).cast(
            "long"
        )

    # -- numpy twins of the *_expr, for driver-resident batches -----
    def chunk_start_array(self, ts_sec: np.ndarray) -> np.ndarray:
        """:meth:`chunk_start_expr` over a float64 array, element for
        element: int64 for a whole-second chunk, float64 otherwise."""
        return _floor_to_array(ts_sec, self.chunk_duration)

    def snap_array(self, ts_sec: np.ndarray) -> np.ndarray:
        """:meth:`snap_expr` over a float64 array, element for element."""
        return _floor_to_array(ts_sec, self.tick_seconds)


def _floor_to_expr(x: Column, step: float) -> Column:
    """``floor(x/step)*step``: Spark's floor of a double is a bigint, so
    a whole step stays bigint math and a fractional one multiplies that
    bigint by a double."""
    if step == int(step):
        s = int(step)
        return (F.floor(x / F.lit(s)) * F.lit(s)).cast("long")
    return F.floor(x / F.lit(step)) * F.lit(step)


def _floor_to_array(x: np.ndarray, step: float) -> np.ndarray:
    """:func:`_floor_to_expr` in numpy, the same operations in the same
    types.  Java's double -> long cast maps NaN to 0, so a NaN snaps to
    0 here too.  Near the long range Spark's bigint product overflows
    (an error under ANSI) or saturates; such a timestamp is rejected."""
    x = np.asarray(x, dtype=np.float64)
    x = np.where(np.isnan(x), 0.0, x)
    if (np.abs(x) >= 2.0**62).any():
        raise ValueError("timestamp out of range (|ts| >= 2**62 s)")
    q = np.floor(x / step).astype(np.int64)
    return q * int(step) if step == int(step) else q * step
