"""Time-series column functions shared by operators and queries.

Cross-engine determinism convention (Spark vs the DuckDB oracle): all
query outputs expose time as **epoch microseconds (bigint)**, equal to
DuckDB's ``epoch_us(ts)`` for positive timestamps.  Exact integer
math, no doubles (ns since 1970 exceed 2^53).

The driver's testdata has shipped timestamp columns as BOTH long-ns
(TIMESTAMP(NANOS) under ``nanosAsLong``) and plain timestamp[us], so
the epoch converters here are SCHEMA-ADAPTIVE — they take the
DataFrame and branch on the column's actual dtype (pinned against
both encodings by tests/test_ts_dtypes.py).  Never write a raw
``ts div 1000`` against a column whose dtype isn't statically known.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_us(df: DataFrame, col: str) -> Column:
    """epoch µs (bigint) from either a long-ns or a timestamp column —
    always equals DuckDB's ``epoch_us(col)`` (floor; positive domain)."""
    dt = df.schema[col].dataType.simpleString()
    if dt == "bigint":
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def epoch_sec(df: DataFrame, col: str) -> Column:
    """epoch seconds (bigint), dtype-adaptive — DuckDB
    ``epoch_us(col)//1000000`` (floor; positive domain)."""
    dt = df.schema[col].dataType.simpleString()
    if dt == "bigint":
        return F.expr(f"{col} div 1000000000")
    return F.expr(f"unix_micros(cast({col} as timestamp)) div 1000000")


def epoch_ns(df: DataFrame, col: str) -> Column:
    """epoch ns (bigint), dtype-adaptive — for edges that speak raw ns
    (influx line protocol).  µs-precision sources get trailing zeros."""
    dt = df.schema[col].dataType.simpleString()
    if dt == "bigint":
        return F.col(col)
    return F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)


def nan_sum(cols: list[str]) -> Column:
    """Horizontal NaN-ignoring sum — the reference's row checksum
    (np.nansum over metric cells, database.py:484-485).  Built as a
    deterministic left-to-right fold over an array so Spark and the
    SQL oracle (``coalesce(a,0)+coalesce(b,0)+...``) agree bitwise.
    Stays inside whole-stage codegen (no UDF).
    """
    arr = F.array(*[F.col(c).cast("double") for c in cols])
    return F.aggregate(
        arr,
        F.lit(0.0),
        lambda acc, x: acc + F.when(x.isNotNull() & ~F.isnan(x), x).otherwise(F.lit(0.0)),
    )
