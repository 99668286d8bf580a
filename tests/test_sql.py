"""Spark SQL text rendering (``pudl_spark/sql.py``): identifiers name
themselves, literals parse back to exactly the Python value, and the
parsed integer IN list equals ``Column.isin``."""

import math
import struct

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pudl_spark.sql import ident, in_list, lit


def test_ident_quotes_every_name(spark):
    """Backtick, dot, space and leading-digit names each resolve to the
    column literally called that (never a struct field or a parse
    error)."""
    assert ident("text") == "`text`" and ident("a`b") == "`a``b`"
    names = ["text", "a`b", "``", "a.b", "a b", "1a"]
    df = spark.createDataFrame([tuple(range(len(names)))], names)
    got = df.select(*[F.expr(f"{ident(n)} + 1") for n in names]).first()
    assert list(got) == [i + 1 for i in range(len(names))]


def test_in_list_equals_isin(spark):
    """Same rows as Column.isin — including negative hashes and the
    Long.MIN_VALUE edge the SQL parser cannot spell as a single
    literal."""
    df = spark.range(0, 50).select(
        (F.col("id") * 7 - 100).alias("v"))
    vals = [-100, -2, 33, 5, 110, -(1 << 63)]
    got = sorted(r["v"] for r in
                 df.filter(in_list("v", vals)).collect())
    want = sorted(r["v"] for r in
                  df.filter(F.col("v").isin(vals)).collect())
    assert got == want and len(got) > 0
    # Empty list behaves like isin() (no rows survive).
    assert df.filter(in_list("v", [])).count() == 0


def test_in_list_rejects_non_integrals():
    with pytest.raises(TypeError):
        in_list("v", [1, "2"])
    with pytest.raises(TypeError):
        in_list("v", [True])


def _same(a, b) -> bool:
    """Exact equality; floats compare by bit pattern (NaN by NaN-ness),
    so -0.0 != 0.0 and NaN == NaN."""
    if isinstance(a, float) or isinstance(b, float):
        if not (isinstance(a, float) and isinstance(b, float)):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return struct.pack(">d", a) == struct.pack(">d", b)
    return type(a) is type(b) and a == b


# Text without lone surrogates (py4j ships UTF-8); the sampled
# characters are weighted toward the ones Spark's literal unescaping
# treats specially.
_TEXT = st.text(st.one_of(
    st.sampled_from(["'", "\\", "%", "_", "u", "0", "4", "1", "\n",
                     "\t", '"', "`", "b", "n", "\r", "\x00", "$", "{"]),
    st.characters(blacklist_categories=("Cs",))), max_size=12)
_VALUES = st.one_of(
    _TEXT,
    st.sampled_from(["\\%", "\\_", "\\u0041", "a\\b", "it's", "\\'",
                     "''", "\\\\", "line\nbreak", "${spark.app.name}",
                     "${env:HOME}", "$${x}"]),
    st.integers(-(1 << 63), (1 << 63) - 1),
    st.sampled_from([-(1 << 63), (1 << 63) - 1, 0, -1]),
    st.booleans(),
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([float("nan"), float("inf"), float("-inf"), -0.0,
                     0.0, 5e-324, 1.7976931348623157e308]),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_VALUES, min_size=1, max_size=40))
def test_lit_round_trips(spark, values):
    """``SELECT lit(x)`` returns x exactly, many literals per query."""
    row = spark.sql("SELECT " + ", ".join(
        f"{lit(v)} AS c{i}" for i, v in enumerate(values))).first()
    for i, v in enumerate(values):
        assert _same(row[i], v), (v, lit(v), row[i])


def test_lit_rejects_other_types():
    with pytest.raises(TypeError):
        lit(None)
