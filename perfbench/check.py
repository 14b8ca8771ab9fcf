"""Result check against stored DuckDB twins.

The rule is the one the oracle-parity tests apply: equal row count, equal
column names, and equal values once both sides are sorted by every column;
floats may differ by 1e-9. Values are first put in a JSON-safe canonical form
so that a twin computed once can be stored beside the benchmark.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math

FLOAT_TOLERANCE = 1e-9


def canon(v):
    """JSON-safe canonical form of one cell from pandas (Spark or DuckDB)."""
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items())}
    if hasattr(v, "asDict"):
        return canon(v.asDict())
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.timedelta):
        return v.total_seconds()
    if isinstance(v, (datetime.datetime, datetime.date)):
        if v != v:  # NaT
            return None
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, str):
        return v
    try:
        if v != v:  # pandas NA / NaT
            return None
    except TypeError:
        pass
    return str(v)


def _cell_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float) and math.isnan(v):
        return (3, "")
    if isinstance(v, (bool, int, float)):
        return (1, float(v), "")
    if isinstance(v, str):
        return (2, v)
    return (2, json.dumps(v, sort_keys=True))


def canonical_frame(pdf) -> dict:
    """Sorted columns and rows of a pandas frame, every cell canonical."""
    cols = sorted(pdf.columns)
    rows = [
        [canon(x) for x in row]
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple(_cell_key(x) for x in r))
    return {"columns": cols, "rows": rows}


def _same(x, y) -> bool:
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))
    if isinstance(x, dict) and isinstance(y, dict):
        return x.keys() == y.keys() and all(_same(x[k], y[k]) for k in x)
    numbers = (int, float)
    if (isinstance(x, float) or isinstance(y, float)) and isinstance(
        x, numbers
    ) and isinstance(y, numbers):
        if math.isnan(x) or math.isnan(y):
            return math.isnan(x) and math.isnan(y)
        return abs(x - y) <= FLOAT_TOLERANCE
    return x == y


def mismatch(got: dict, twin: dict) -> str | None:
    """None when ``got`` (a canonical frame) matches ``twin``, else why not."""
    if len(got["rows"]) != len(twin["rows"]):
        return f"rows {len(got['rows'])} != twin {len(twin['rows'])}"
    if got["columns"] != twin["columns"]:
        return f"columns {got['columns']} != twin {twin['columns']}"
    for i, (a, b) in enumerate(zip(got["rows"], twin["rows"])):
        for col, x, y in zip(got["columns"], a, b):
            if not _same(x, y):
                return f"row {i} column {col}: {x!r} != twin {y!r}"
    return None
