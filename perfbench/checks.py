"""Order-insensitive output fingerprints.

The expected fingerprints in ``expected.json`` are computed once from
the DuckDB oracle SQL of each query (``make_expected.py``); a run
fingerprints the Spark output with the same function and compares.
Canonicalisation follows the repository's oracle harness (columns
sorted by name, rows as strings, row order ignored) but snaps every
number to 6 significant digits, so a float sum that rounds differently
between engines or runs does not read as a wrong answer.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import pandas as pd


def canon_cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)) or hasattr(v, "dtype"):
        try:
            f = float(v)
        except (TypeError, ValueError):
            return str(v)
        if math.isnan(f):
            return "NULL"
        if f == 0.0:
            return "0"
        return f"{f:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if getattr(v, "tzinfo", None) is not None:
            v = v.replace(tzinfo=None)
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def fingerprint(pdf: pd.DataFrame) -> dict:
    """{"rows", "cols", "sha256"} of a pandas frame, independent of row
    and column order."""
    cols = sorted(pdf.columns)
    columns = [[canon_cell(v) for v in pdf[c].tolist()] for c in cols]
    rows = sorted("|".join(r) for r in zip(*columns)) if cols else []
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"rows": len(pdf), "cols": cols, "sha256": h}


def mismatch(got: dict, want: dict) -> str | None:
    """None when the fingerprints agree, else a one-line reason."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["sha256"] != want["sha256"]:
        return "values differ"
    return None
