"""Result comparison: engine rows against an expected multiset.

Cells are normalised so that equal values compare equal across engines
(DuckDB's HUGEINT sums arrive as Python ints or Decimals, Spark's as
ints or floats): integral numbers become exact integer strings, other
numbers keep nine significant digits, which absorbs summation-order
differences in the last bits of a double.
"""

from __future__ import annotations

import datetime
import hashlib
import math
from decimal import Decimal


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return f"{f:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(norm(x) for x in v)
    return v


def canon(columns: list[str], rows) -> tuple:
    """Order-insensitive canonical form: columns sorted by name, rows
    normalised and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)
    return tuple(columns[i] for i in order), tuple(body)


def digest(c: tuple) -> str:
    return hashlib.sha256(repr(c).encode()).hexdigest()[:16]
