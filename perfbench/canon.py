"""Canonical digest of a gate's result, shared by the oracle side
(`oracle.py`, DuckDB) and the checked side (`run.py`, the Spark output).

The canonical form follows `scripts/check_oracle.py`: columns sorted by name,
timestamps normalized to microseconds, and each cell rendered as an exact,
dtype-sensitive string (ints without a decimal point, floats with one), so
two results digest equal only when that script would call them a match.
"""
import hashlib

import pandas as pd


def _cells(series):
    out = []
    for v in series.tolist():
        if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
            out.append("NULL")
        elif isinstance(v, (bytes, bytearray)):
            out.append("0x" + bytes(v).hex())
        elif isinstance(v, bool):
            out.append("true" if v else "false")
        elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            out.append("[" + ",".join(str(x) for x in v) + "]")
        else:
            out.append(str(v))
    return out


def _normalize(series):
    if str(series.dtype).startswith("datetime"):
        s = pd.to_datetime(series)
        if s.dt.tz is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.astype("datetime64[us]")
    return series


def digest(df):
    """{"rows", "columns", "sha256"} of a pandas DataFrame's canonical form."""
    cols = sorted(df.columns)
    h = hashlib.sha256()
    for c in cols:
        h.update(c.encode() + b"\x1d")
        for cell in _cells(_normalize(df[c])):
            h.update(cell.encode() + b"\x1f")
        h.update(b"\x1e")
    return {"rows": int(len(df)), "columns": cols, "sha256": h.hexdigest()}
