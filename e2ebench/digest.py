"""Order-insensitive result digests shared by the run and the generator.

A digest is (row count, sorted column names, sha256 over the sorted
canonical rows). Canonical values follow the equality the DuckDB
differential uses: every number compares as a double (so 3 == 3.0 and
Decimal('1.50') == 1.5), -0.0 equals 0.0, and NaN equals NaN.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return repr(f + 0.0)
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(str(v))


def digest(columns: list[str], rows) -> dict:
    """Digest of a result given its column names and row tuples (in
    column order)."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "columns": [names[i] for i in order], "sha256": h}
