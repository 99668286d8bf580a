"""Property-based differential fuzzing: hypothesis composes random
filter/group/aggregate plans over the orders table and the SAME query
runs on Spark (DataFrame API) and DuckDB (generated SQL); results must
match exactly. This closes the gap the hand-written oracle suite can't:
it explores the combinatorial space of predicate/grouping/agg
interactions instead of one fixed plan per operator.

Determinism by construction: every aggregate is exact in any execution
order (count, min/max, integral sums), so the comparison is exact
equality — the same discipline as plans/queries.py.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from tools.driver_sim import canon

SF = "/root/testdata/sf0.001"

# (name, spark_col_factory, sql_expr) — all exact-compare safe.
FILTERS = [
    ("status_O", lambda: F.col("o_orderstatus") == "O",
     "o_orderstatus = 'O'"),
    ("status_ne_F", lambda: F.col("o_orderstatus") != "F",
     "o_orderstatus <> 'F'"),
    ("price_lt", lambda: F.col("o_totalprice") < 150000.0,
     "o_totalprice < 150000.0"),
    ("price_ge", lambda: F.col("o_totalprice") >= 60000.0,
     "o_totalprice >= 60000.0"),
    ("prio_urgent", lambda: F.col("o_orderpriority") == "1-URGENT",
     "o_orderpriority = '1-URGENT'"),
    ("cust_mod", lambda: F.col("o_custkey") % 7 == 3,
     "o_custkey % 7 = 3"),
    ("year_1995", lambda: F.year("o_orderdate") == 1995,
     "year(o_orderdate) = 1995"),
    ("prio_like", lambda: F.col("o_orderpriority").like("%E%"),
     "o_orderpriority LIKE '%E%'"),
]

GROUPS = [
    ("o_orderstatus",
     lambda: F.col("o_orderstatus").alias("o_orderstatus"),
     "o_orderstatus"),
    ("o_orderpriority",
     lambda: F.col("o_orderpriority").alias("o_orderpriority"),
     "o_orderpriority"),
    ("o_year",
     lambda: F.year("o_orderdate").cast("bigint").alias("o_year"),
     "CAST(year(o_orderdate) AS BIGINT) AS o_year"),
]

AGGS = [
    ("n_rows", lambda: F.count(F.lit(1)).alias("n_rows"),
     "count(*) AS n_rows"),
    ("min_price", lambda: F.min("o_totalprice").alias("min_price"),
     "min(o_totalprice) AS min_price"),
    ("max_price", lambda: F.max("o_totalprice").alias("max_price"),
     "max(o_totalprice) AS max_price"),
    ("sum_cust", lambda: F.sum("o_custkey").cast("bigint")
     .alias("sum_cust"), "CAST(sum(o_custkey) AS BIGINT) AS sum_cust"),
    ("n_prios", lambda: F.countDistinct("o_orderpriority")
     .cast("bigint").alias("n_prios"),
     "CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios"),
    ("min_date", lambda: F.min("o_orderdate").alias("min_date"),
     "min(o_orderdate) AS min_date"),
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')")
    return con


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    f_idx=st.lists(st.integers(0, len(FILTERS) - 1), unique=True,
                   max_size=3),
    g_idx=st.lists(st.integers(0, len(GROUPS) - 1), unique=True,
                   min_size=1, max_size=2),
    a_idx=st.lists(st.integers(0, len(AGGS) - 1), unique=True,
                   min_size=1, max_size=4),
)
def test_random_plans_match_duckdb(spark, duck, f_idx, g_idx, a_idx):
    from pudl_spark.catalog import read_parquet_table

    df = read_parquet_table(spark, f"{SF}/orders.parquet")
    for i in f_idx:
        df = df.filter(FILTERS[i][1]())
    gcols = [GROUPS[i][1]() for i in g_idx]
    aggs = [AGGS[i][1]() for i in a_idx]
    got = canon(df.groupBy(*gcols).agg(*aggs).toPandas())

    where = " AND ".join(FILTERS[i][2] for i in f_idx) or "TRUE"
    gsel = ", ".join(GROUPS[i][2] for i in g_idx)
    gkey = ", ".join(GROUPS[i][0] for i in g_idx)
    asel = ", ".join(AGGS[i][2] for i in a_idx)
    sql = (f"SELECT {gsel}, {asel} FROM orders "
           f"WHERE {where} GROUP BY {gkey}")
    want = canon(duck.execute(sql).df())

    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


JOIN_AGGS = [
    ("n_rows", lambda: F.count(F.lit(1)).alias("n_rows"),
     "count(*) AS n_rows"),
    ("sum_cust", lambda: F.sum("o_custkey").cast("bigint")
     .alias("sum_cust"), "CAST(sum(o_custkey) AS BIGINT) AS sum_cust"),
    ("max_bal", lambda: F.max("c_acctbal").alias("max_bal"),
     "max(c_acctbal) AS max_bal"),
    ("n_cust", lambda: F.countDistinct("o_custkey").cast("bigint")
     .alias("n_cust"),
     "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust"),
]

JOIN_GROUPS = [
    ("c_mktsegment", "c_mktsegment"),
    ("o_orderstatus", "o_orderstatus"),
]

JOIN_TYPES = ["inner", "left"]


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    f_idx=st.lists(st.integers(0, len(FILTERS) - 1), unique=True,
                   max_size=2),
    g_idx=st.lists(st.integers(0, len(JOIN_GROUPS) - 1), unique=True,
                   min_size=1, max_size=2),
    a_idx=st.lists(st.integers(0, len(JOIN_AGGS) - 1), unique=True,
                   min_size=1, max_size=3),
    jt=st.integers(0, len(JOIN_TYPES) - 1),
)
def test_random_join_plans_match_duckdb(spark, duck, f_idx, g_idx,
                                        a_idx, jt):
    """Same differential check over a two-table shape: orders
    (filtered) joined to customer, grouped and aggregated. LEFT joins
    exercise null-extension of the customer columns through the
    grouping keys."""
    from pudl_spark.catalog import read_parquet_table

    how = JOIN_TYPES[jt]
    o = read_parquet_table(spark, f"{SF}/orders.parquet")
    for i in f_idx:
        o = o.filter(FILTERS[i][1]())
    c = read_parquet_table(spark, f"{SF}/customer.parquet")
    j = o.join(c, o.o_custkey == c.c_custkey, how)
    gcols = [JOIN_GROUPS[i][0] for i in g_idx]
    aggs = [JOIN_AGGS[i][1]() for i in a_idx]
    got = canon(j.groupBy(*gcols).agg(*aggs).toPandas())

    where = " AND ".join(FILTERS[i][2] for i in f_idx) or "TRUE"
    gsel = ", ".join(JOIN_GROUPS[i][1] for i in g_idx)
    asel = ", ".join(JOIN_AGGS[i][2] for i in a_idx)
    sqljoin = "JOIN" if how == "inner" else "LEFT JOIN"
    sql = (f"SELECT {gsel}, {asel} FROM "
           f"(SELECT * FROM orders WHERE {where}) o "
           f"{sqljoin} customer c ON o.o_custkey = c.c_custkey "
           f"GROUP BY {gsel}")
    want = canon(duck.execute(sql).df())
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


WIN_PARTS = [
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
]

# (name, spark_expr_factory(window), sql_over_suffix) — the order key
# includes o_orderkey, which is unique, so every ranking function is
# deterministic; running sums are integral (exact in any engine).
WIN_FUNCS = [
    ("rn", lambda w: F.row_number().over(w).cast("bigint").alias("rn"),
     "CAST(row_number() OVER ({}) AS BIGINT) AS rn"),
    ("rk", lambda w: F.rank().over(w).cast("bigint").alias("rk"),
     "CAST(rank() OVER ({}) AS BIGINT) AS rk"),
    ("run_cust", lambda w: F.sum("o_custkey").over(
        w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint")
     .alias("run_cust"),
     "CAST(sum(o_custkey) OVER ({} ROWS UNBOUNDED PRECEDING) "
     "AS BIGINT) AS run_cust"),
    ("lag_cust", lambda w: F.lag("o_custkey", 1).over(w)
     .alias("lag_cust"),
     "lag(o_custkey, 1) OVER ({}) AS lag_cust"),
    ("win3", lambda w: F.sum("o_custkey").over(
        w.rowsBetween(-2, 0)).cast("bigint").alias("win3"),
     "CAST(sum(o_custkey) OVER ({} ROWS BETWEEN 2 PRECEDING AND "
     "CURRENT ROW) AS BIGINT) AS win3"),
]


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    p_idx=st.integers(0, len(WIN_PARTS) - 1),
    w_idx=st.lists(st.integers(0, len(WIN_FUNCS) - 1), unique=True,
                   min_size=1, max_size=3),
    f_idx=st.lists(st.integers(0, len(FILTERS) - 1), unique=True,
                   max_size=2),
)
def test_random_window_plans_match_duckdb(spark, duck, p_idx, w_idx,
                                          f_idx):
    from pudl_spark.catalog import read_parquet_table
    global Window
    from pyspark.sql import Window

    df = read_parquet_table(spark, f"{SF}/orders.parquet")
    for i in f_idx:
        df = df.filter(FILTERS[i][1]())
    part = WIN_PARTS[p_idx][0]
    w = Window.partitionBy(part).orderBy("o_orderdate", "o_orderkey")
    exprs = [WIN_FUNCS[i][1](w) for i in w_idx]
    got = canon(df.select(F.col("o_orderkey"), *exprs).toPandas())

    over = (f"PARTITION BY {part} ORDER BY o_orderdate, o_orderkey")
    wsel = ", ".join(WIN_FUNCS[i][2].format(over) for i in w_idx)
    where = " AND ".join(FILTERS[i][2] for i in f_idx) or "TRUE"
    sql = f"SELECT o_orderkey, {wsel} FROM orders WHERE {where}"
    want = canon(duck.execute(sql).df())
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


SETOPS = [
    ("union_all", lambda a, b: a.unionAll(b), "UNION ALL"),
    ("intersect", lambda a, b: a.intersect(b), "INTERSECT"),
    ("except_", lambda a, b: a.exceptAll(b), "EXCEPT ALL"),
]


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    fa=st.lists(st.integers(0, len(FILTERS) - 1), unique=True,
                max_size=2),
    fb=st.lists(st.integers(0, len(FILTERS) - 1), unique=True,
                max_size=2),
    op=st.integers(0, len(SETOPS) - 1),
)
def test_random_set_ops_match_duckdb(spark, duck, fa, fb, op):
    """Set-operation semantics (bag for UNION ALL / EXCEPT ALL, set
    for INTERSECT) over two filtered projections of orders, reduced
    to an exact group-count so multiplicities are compared too."""
    from pudl_spark.catalog import read_parquet_table

    base = read_parquet_table(spark, f"{SF}/orders.parquet")
    proj = ["o_orderstatus", "o_orderpriority"]

    def side(f_idx):
        d = base
        for i in f_idx:
            d = d.filter(FILTERS[i][1]())
        return d.select(*proj)

    name, fn, sqlop = SETOPS[op]
    got = canon(fn(side(fa), side(fb))
                .groupBy(*proj)
                .agg(F.count(F.lit(1)).alias("n")).toPandas())

    def sql_side(f_idx):
        where = " AND ".join(FILTERS[i][2] for i in f_idx) or "TRUE"
        return (f"SELECT {', '.join(proj)} FROM orders WHERE {where}")

    sql = (f"SELECT {', '.join(proj)}, count(*) AS n FROM "
           f"({sql_side(fa)} {sqlop} {sql_side(fb)}) t "
           f"GROUP BY {', '.join(proj)}")
    want = canon(duck.execute(sql).df())
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
