"""Output verification: order-free fingerprints of result rows.

The canonical form follows ``tools/driver_sim.compare``: columns are
taken in sorted-name order and rows are sorted, so neither engine's
column or row order matters. Numbers compare by value, not type, as
``compare`` does by casting to float: an integral int / float /
decimal value renders as the integer, any other as the shortest float
repr, ``-0.0`` as ``0`` and NaN as ``nan``. Dates and timestamps
render as ISO strings, nested values recursively.

Spark rows (``DataFrame.collect``) and DuckDB rows (``fetchall``) both
arrive as plain Python values, so one function canonicalises both.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math

_EXACT = 2 ** 53


def _num(x: float) -> str:
    if math.isnan(x):
        return "nan"
    if x == 0:
        return "0"
    if x.is_integer() and abs(x) < _EXACT:
        return str(int(x))
    return repr(x)


def canon_value(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return _num(float(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return json.dumps({str(k): canon_value(x) for k, x in v.items()},
                          sort_keys=True)
    if hasattr(v, "asDict"):                      # pyspark Row (struct)
        return canon_value(v.asDict())
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return json.dumps([canon_value(x) for x in seq])
    return str(v)


def fingerprint(columns: list[str], rows) -> dict:
    """``{"rows": n, "columns": [...], "sha": ...}`` of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(canon_value(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda t: tuple((x is None, x or "") for x in t))
    h = hashlib.sha256(json.dumps(canon).encode())
    return {"rows": len(canon),
            "columns": [columns[i] for i in order],
            "sha": h.hexdigest()[:32]}


def spark_fingerprint(df) -> dict:
    return fingerprint(df.columns, df.collect())


def duckdb_fingerprint(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return fingerprint(cols, cur.fetchall())


def diff(expected: dict | None, got: dict) -> str | None:
    """None when equal, else a one-line reason."""
    if expected is None:
        return "no expected fingerprint"
    for key in ("columns", "rows", "sha"):
        if expected.get(key) != got.get(key):
            return f"{key}: expected {expected.get(key)!r}, got {got.get(key)!r}"
    return None
