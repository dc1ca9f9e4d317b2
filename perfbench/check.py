"""Order-insensitive result hashing shared by the expected-result side
(DuckDB) and the measured side (REST replies, collected rows).

Columns are ordered by lower-cased name; floats are rounded to six
decimals (summation order differs between engines in the last ulp);
dates and timestamps compare by ISO text, so a REST reply's JSON
strings and DuckDB's datetime objects hash alike.
"""

from __future__ import annotations

import decimal
import hashlib
import math


def norm(v):
    if v is None:
        return "\0null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        return repr(0.0 if r == 0 else r)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_hash(columns, rows) -> tuple[int, str]:
    """(row count, hex digest) of a result given its column names and
    rows as sequences in that column order."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha1("\x1e".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()
