"""Order-insensitive result comparison for the query oracles.

The same normalization as the repository's oracle test: columns sorted
by name, ints and floats tagged (so 1435 and 1435.0 differ), floats
rounded to 6 places, decimals as floats, timestamps as naive ISO text.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return ("f", round(v, 6))
    if isinstance(v, decimal.Decimal):
        return ("f", round(float(v), 6))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if hasattr(v, "item"):
        return norm(v.item())
    return v


def rowset(cols, rows) -> tuple[list, list]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return (sorted((tuple(norm(r[i]) for i in idx) for r in rows), key=repr),
            [cols[i] for i in idx])
