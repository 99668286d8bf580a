"""Spark SQL text rendering: identifiers, literals and integer IN lists.

Expression builders assemble parsed SQL text (one JVM-side parse
instead of one py4j round trip per Column operator); every value that
enters that text goes through these helpers, so quoting lives in one
place.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

_LONG_MIN = -(1 << 63)


def ident(name: str) -> str:
    """Backticked identifier; embedded backticks are doubled, so any
    column name (dots, spaces, leading digits) names itself."""
    return "`" + name.replace("`", "``") + "`"


def lit(v: str | bool | int | float) -> str:
    """Spark SQL literal that parses back to exactly ``v``.

    Strings double the backslash (Spark decodes ``\\b``, ``\\u0041``
    and friends inside literals) and the quote, and write ``${`` as
    ``$\\{`` (Spark substitutes ``${conf}`` and ``${env:X}`` anywhere in
    SQL text, literals included). Finite doubles keep their shortest
    round-trip spelling with a ``D`` suffix.
    """
    if isinstance(v, str):
        s = v.replace("\\", "\\\\").replace("'", "''")
        return "'" + s.replace("${", "$\\{") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        # Long.MIN_VALUE has no negative-literal spelling (the parser
        # reads "-x" as unary minus over a too-big DECIMAL); spell it
        # as an expression that folds to the same BIGINT.
        if v == _LONG_MIN:
            return "(-9223372036854775807 - 1)"
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{float(v)!r}D"
    raise TypeError(f"lit: unsupported literal type {type(v).__name__}")


def in_list(col: str, ints) -> Column:
    """``col IN (v1, v2, ...)`` as ONE parsed SQL expression.

    ``Column.isin(vals)`` converts every literal through its own py4j
    round trips (~4 per value); at the store families' 2048-value
    In() prune gate that is seconds of driver wall per probe. The
    parsed text resolves to the same Catalyst ``In`` node (integer
    literals widen to the column type under the same implicit casts
    either way). Integral values only: the prune call sites pass
    xxhash64 buckets and ids.
    """
    vals = list(ints)
    bad = [v for v in vals
           if not isinstance(v, int) or isinstance(v, bool)]
    if bad:
        raise TypeError(f"in_list: non-integral values {bad[:3]}")
    if not vals:
        return F.col(col).isin()
    return F.expr(f"{ident(col)} IN ({','.join(lit(v) for v in vals)})")
