"""The pandas boundary: flatten multiindex metric names and
convert between Spark DataFrames and the reference's pandas shapes.

The reference's client rebuilds a pandas ``MultiIndex`` column index
from list-of-list metric names + ``metadata["level_names"]`` only at
the read edge (reference ``src/ong_tsdb/client.py:545-547,286-327``);
everything server-side uses flat positional columns.  We mirror that:
Parquet columns are flat strings, the MultiIndex exists only in the
returned pandas frame.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd

#: separator for flattened multiindex names; escaped if it appears in a part
_SEP = "||"
_ESC = "\\|"


def flatten_metric(metric: Any) -> str:
    """``["A","B","C"]`` -> ``"A||B||C"``; plain strings pass through."""
    if isinstance(metric, str):
        return metric
    return _SEP.join(str(p).replace("|", _ESC) for p in metric)


def flatten_metrics(metrics: list) -> list[str]:
    return [flatten_metric(m) for m in metrics]


def is_multiindex(metrics: list) -> bool:
    return bool(metrics) and not isinstance(metrics[0], str)


def build_column_index(metrics: list, level_names: list[str] | None) -> pd.Index:
    """Rebuild the pandas column index exactly as the reference client
    does (client.py:545-547): MultiIndex for list-of-list metrics."""
    if is_multiindex(metrics):
        return pd.MultiIndex.from_tuples([tuple(m) for m in metrics], names=level_names)
    return pd.Index(metrics)


def pdf_to_records(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """pandas frame (DatetimeIndex x metric columns) -> (float64
    epoch-sec array, float64 rows x metrics value matrix, flat metric
    names). Mirrors client.write_df's df->tuples conversion
    (client.py:372-382, ns -> s)."""
    idx = pd.DatetimeIndex(pdf.index)
    if idx.tz is not None:
        idx = idx.tz_convert("UTC").tz_localize(None)
    ts_sec = idx.asi8 / 1e9
    if isinstance(pdf.columns, pd.MultiIndex):
        names = [flatten_metric(list(c)) for c in pdf.columns]
    else:
        names = [flatten_metric(c) for c in pdf.columns]
    values = pdf.to_numpy(dtype="float64")
    return ts_sec, values, names
