"""Validation-layer checks and calculation-forest reconciliation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pudl_spark.plans.forest import (
    CalcEdge, forest_levels, reconcile_calculations,
)
from pudl_spark.validate import (
    ValidationError, assert_empty, check_columns_are_close,
    check_foreign_key_df, check_one2one_mapping,
    check_quantile_constraints, check_row_counts_per_partition,
    check_sum_close_to_total,
)


def test_row_counts_per_partition(spark):
    df = spark.createDataFrame(
        [(2020, i) for i in range(3)] + [(2021, i) for i in range(5)],
        "year int, id int")
    ok = check_row_counts_per_partition(df, "year",
                                        {"2020": 3, "2021": 5})
    assert ok.count() == 0
    bad = check_row_counts_per_partition(df, "year",
                                         {"2020": 3, "2021": 4, "2022": 1})
    rows = {r["year"] for r in bad.collect()}
    assert rows == {"2021", "2022"}
    with pytest.raises(ValidationError, match="row_counts"):
        assert_empty(bad, "row_counts")
    # the five reference unit fixtures (dbt/tests/unit_tests/
    # test_row_counts_*.sql), r14 parity:
    # extra observed partition -> exactly one violation
    extra = check_row_counts_per_partition(
        spark.createDataFrame([(2022, "x"), (2023, "x")],
                              "report_year int, dummy string"),
        "report_year", {"2022": 1}).collect()
    assert len(extra) == 1 and extra[0]["report_year"] == "2023"
    # NULL partition values coalesce to '' and match an expected ''
    # row (the macro's COALESCE), instead of dangling
    nulls = spark.createDataFrame(
        [(None, "a"), (None, "b"), (2020, "c")],
        "year int, dummy string")
    assert check_row_counts_per_partition(
        nulls, "year", {None: 2, "2020": 1}).count() == 0
    assert check_row_counts_per_partition(
        nulls, "year", {"": 2, "2020": 1}).count() == 0
    assert check_row_counts_per_partition(
        nulls, "year", {"": 1, "2020": 1}).count() == 1
    # whole-table mode: partition_col=None counts everything under ''
    assert check_row_counts_per_partition(
        nulls, None, {"": 3}).count() == 0
    assert check_row_counts_per_partition(
        nulls, None, {"": 4}).count() == 1
    # macro parity on the NULL-vs-'' edge (ADVICE r14): the macro
    # groups by the RAW expression and coalesces in the SELECT, so a
    # frame holding BOTH a NULL and a literal '' partition value
    # yields TWO '' observed rows that each join the expected ''
    # row — and both violate even though their counts sum to it
    mixed = spark.createDataFrame(
        [(None, "a"), (None, "b"), ("", "c")],
        "part string, dummy string")
    two = check_row_counts_per_partition(
        mixed, "part", {"": 3}).collect()
    assert len(two) == 2
    assert sorted(r["actual_count"] for r in two) == [1, 2]
    assert all(r["expected_count"] == 3 for r in two)


def test_quantile_constraints(spark):
    df = spark.createDataFrame([(float(i),) for i in range(101)],
                               "v double")
    ok = check_quantile_constraints(
        df, "v", [(0.5, 49, 51), (0.9, 89, 91)])
    assert ok.count() == 0
    bad = check_quantile_constraints(df, "v", [(0.5, 0, 10)])
    assert bad.count() == 1


def test_columns_are_close(spark):
    df = spark.createDataFrame(
        [(1, 100.0, 100.0000001), (2, 100.0, 105.0), (3, None, None)],
        "id int, a double, b double")
    bad = check_columns_are_close(df, "a", "b", rel_tol=1e-6,
                                  key_cols=["id"])
    assert [r["id"] for r in bad.collect()] == [2]


def test_sum_close_to_total(spark):
    df = spark.createDataFrame(
        [("g1", 40.0, 100.0), ("g1", 60.0, 100.0),
         ("g2", 10.0, 100.0)],
        "g string, part double, total double")
    bad = check_sum_close_to_total(df, ["g"], "part", "total")
    assert [r["g"] for r in bad.collect()] == ["g2"]


def test_one2one_mapping(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2), ("b", 3)],
        "x string, y int")
    bad = check_one2one_mapping(df, "x", "y")
    assert {(r["side"], r["value"]) for r in bad.collect()} == {("x", "b")}


def test_foreign_key_df(spark):
    child = spark.createDataFrame([(1,), (99,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    bad = check_foreign_key_df(child, ["fk"], parent, ["pk"])
    assert [r["fk"] for r in bad.collect()] == [99]


def test_forest_levels_and_cycles():
    edges = [CalcEdge("total", "opex"), CalcEdge("total", "capex"),
             CalcEdge("opex", "fuel"), CalcEdge("opex", "labor")]
    assert forest_levels(edges) == [["opex"], ["total"]]
    with pytest.raises(ValueError, match="cycle"):
        forest_levels([CalcEdge("a", "b"), CalcEdge("b", "a")])


def test_reconcile_calculations_two_levels(spark):
    edges = [CalcEdge("total", "opex"), CalcEdge("total", "capex"),
             CalcEdge("opex", "fuel"), CalcEdge("opex", "labor", 2.0)]
    facts = spark.createDataFrame(
        [("e1", "fuel", 10.0), ("e1", "labor", 5.0),
         ("e1", "opex", 20.0),            # = 10 + 2*5: consistent
         ("e1", "capex", 7.0),
         ("e1", "total", 30.0)],          # calc = 20 + 7 = 27: off by 3
        "entity string, fact string, value double")
    out = reconcile_calculations(facts, edges, ["entity"], "fact", "value")
    rows = {r["fact"]: r for r in out.collect()}
    assert rows["opex"]["is_consistent"]
    assert rows["opex"]["calculated"] == 20.0
    assert not rows["total"]["is_consistent"]
    assert rows["total"]["calculated"] == 27.0
    assert rows["total"]["correction"] == pytest.approx(3.0)


# --- r13: the six remaining dbt generic-test shapes (VERDICT r12
#     #4). Each test mirrors the reference SQL's semantics,
#     including its NULL/empty edge rules. ---


def test_column_correlation(spark):
    from pudl_spark.validate import check_column_correlation

    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0)], "a double, b double")
    # perfectly correlated: passes any threshold <= 1
    assert check_column_correlation(df, "a", "b", 0.99).count() == 0
    anti = spark.createDataFrame(
        [(1.0, 4.0), (2.0, 3.0), (3.0, 2.0), (4.0, 1.0)], "a double, b double")
    v = check_column_correlation(anti, "a", "b", 0.5).collect()
    assert len(v) == 1 and v[0]["correlation"] < -0.99
    # constant column -> NULL coefficient -> passes (the reference's
    # `NULL < x` comparison yields no row)
    const = spark.createDataFrame(
        [(1.0, 7.0), (2.0, 7.0)], "a double, b double")
    assert check_column_correlation(const, "a", "b", 0.5).count() == 0


def test_column_fraction_with_condition(spark):
    import pytest

    from pyspark.sql import functions as F

    from pudl_spark.validate import check_column_fraction_with_condition

    df = spark.createDataFrame(
        [("x", 30.0), ("y", 30.0), ("y", 40.0)], "k string, w double")
    # fraction of w where k='x' is 0.3
    assert check_column_fraction_with_condition(
        df, "w", F.col("k") == "x", 0.2, 0.5).count() == 0
    v = check_column_fraction_with_condition(
        df, "w", "k = 'x'", 0.5, 0.9).collect()
    assert len(v) == 1
    assert abs(v[0]["actual_fraction"] - 0.3) < 1e-9
    assert v[0]["condition_sum"] == 30.0 and v[0]["total_sum"] == 100.0
    # parameter validation mirrors the reference's compile errors
    for args in ((-0.1, 0.5), (0.2, 1.5), (0.6, 0.4)):
        with pytest.raises(ValueError):
            check_column_fraction_with_condition(
                df, "w", "k = 'x'", *args)
    # ADVICE r13 pin: bounds evaluate the UNROUNDED fraction (the
    # reference's WHERE reads the raw CTE value; round() is
    # display-only). 50004/100000 = 0.50004 rounds to exactly 0.5000,
    # yet must still violate max_fraction=0.5.
    edge = spark.createDataFrame(
        [("x", 50004.0), ("y", 49996.0)], "k string, w double")
    v = check_column_fraction_with_condition(
        edge, "w", "k = 'x'", 0.0, 0.5).collect()
    assert len(v) == 1
    # ...while the displayed column still shows the rounded value
    assert v[0]["actual_fraction"] == 0.5


def test_includes_all_value_combinations_from(spark):
    from pudl_spark.validate import (
        check_includes_all_value_combinations_from,
    )

    model = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k int, g string")
    compare = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c")], "k int, g string")
    miss = check_includes_all_value_combinations_from(
        model, compare, ["k", "g"]).collect()
    assert [(r["k"], r["g"]) for r in miss] == [(2, "c")]
    # superset passes
    assert check_includes_all_value_combinations_from(
        compare, model, ["k", "g"]).count() == 0
    # EXCEPT's NULL semantics: a combination with a NULL member
    # present on BOTH sides is not missing; one present only in
    # compare is.
    m2 = spark.createDataFrame([(1, None)], "k int, g string")
    c2 = spark.createDataFrame(
        [(1, None), (None, "z")], "k int, g string")
    miss = check_includes_all_value_combinations_from(
        m2, c2, ["k", "g"]).collect()
    assert [(r["k"], r["g"]) for r in miss] == [(None, "z")]


def test_columns_not_all_null(spark):
    from pudl_spark.validate import check_columns_not_all_null

    df = spark.createDataFrame(
        [(1, None, "a", None), (2, None, None, 5.0)],
        "id int, ghost string, s string, v double")
    v = check_columns_not_all_null(df, table_name="t").collect()
    assert len(v) == 1
    assert v[0]["failing_column"] == "ghost"
    assert v[0]["failure_reason"] == "Column is entirely NULL"
    assert v[0]["row_condition"] == "N/A (entire table)"
    assert v[0]["total_rows_matching_condition"] == 2
    assert v[0]["non_null_count"] == 0
    # excluded columns are skipped entirely
    assert check_columns_not_all_null(
        df, exclude_columns=["ghost"]).count() == 0
    # conditional check: v is NULL exactly where id=1 -> fails under
    # that condition, and the failure row mirrors the reference's
    v = check_columns_not_all_null(
        df, table_name="t", exclude_columns=["ghost"],
        row_conditions={"v": "id = 1"}).collect()
    assert len(v) == 1 and v[0]["failing_column"] == "v"
    assert v[0]["failure_reason"].startswith("Conditional check failed")
    assert v[0]["row_condition"] == "id = 1"
    # a condition matching ZERO rows passes (HAVING COUNT(*) > 0)
    assert check_columns_not_all_null(
        df, exclude_columns=["ghost"],
        row_conditions={"v": "id = 99"}).count() == 0
    # the lazy stack() rewrite (r14) builds with ZERO jobs...
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("nan_lazy", "")
    check_columns_not_all_null(df, table_name="t")
    assert not tracker.getJobIdsForGroup("nan_lazy")
    # ...and its string literals escape quotes AND backslashes (a
    # column named "a\\b" used to round-trip as "a<backspace>")
    nasty = spark.range(2).select(
        F.lit(None).cast("string").alias("a'b"),
        F.lit(None).cast("string").alias("a\\b"),
        F.lit(1).alias("ok"))
    got = sorted(r["failing_column"] for r in
                 check_columns_not_all_null(nasty).collect())
    assert got == ["a'b", "a\\b"]


def test_missingness_between(spark):
    from pudl_spark.validate import check_missingness_between

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], "id int, s string")
    # null proportion = 0.5
    assert check_missingness_between(df, "s", 0.4, 0.6).count() == 0
    v = check_missingness_between(df, "s", 0.0, 0.25).collect()
    assert len(v) == 1
    assert v[0]["total_records"] == 4 and v[0]["null_records"] == 2
    assert abs(v[0]["null_proportion"] - 0.5) < 1e-12
    # empty input -> NULL proportion -> passes (NULLIF + HAVING)
    assert check_missingness_between(
        df.filter("id > 99"), "s", 0.4, 0.6).count() == 0


def test_date_frequency_ratio(spark):
    import datetime as dt

    from pudl_spark.validate import check_date_frequency_ratio

    def frame(dates, maturity="final"):
        return spark.createDataFrame(
            [(d, maturity) for d in dates],
            "report_date date, data_maturity string")

    months = [dt.date(2020, m, 1) for m in range(1, 13)] + \
             [dt.date(2021, m, 1) for m in range(1, 13)]
    years = [dt.date(2020, 1, 1), dt.date(2021, 1, 1)]
    # clean 12:1 passes
    assert check_date_frequency_ratio(
        frame(months), frame(years), 12).count() == 0
    # a missing month breaks the ratio
    v = check_date_frequency_ratio(
        frame(months[:-1]), frame(years), 12).collect()
    assert len(v) == 1
    assert v[0]["model_total"] == 23 and v[0]["compare_total"] == 2
    assert v[0]["expected_multiplier"] == 12
    # non-overlapping years are ignored (INNER JOIN): an extra
    # model-only year does not affect the check
    extra = months + [dt.date(2022, 1, 1)]
    assert check_date_frequency_ratio(
        frame(extra), frame(years), 12).count() == 0
    # the provisional-maturity screen excludes incremental_ytd rows;
    # without the screen the same data fails
    partial = frame([dt.date(2022, m, 1) for m in (1, 2, 3)],
                    maturity="incremental_ytd")
    model = frame(months).unionByName(partial)
    comp = frame(years).unionByName(
        frame([dt.date(2022, 1, 1)], maturity="incremental_ytd"))
    assert check_date_frequency_ratio(model, comp, 12).count() == 0
    assert check_date_frequency_ratio(
        model, comp, 12, model_has_data_maturity=False,
        compare_has_data_maturity=False).count() == 1


def test_weighted_quantile_constraints(spark):
    """The weighted twin of the quantile-bounds check (ref:
    expect_column_weighted_quantile_values_to_be_between.sql):
    weighted quantiles computed through the engine's interpolated
    pooled-ties weighted_quantile, checked against bounds, with
    strictly / row_condition / group_by mirroring the reference."""
    from pudl_spark.validate import check_weighted_quantile_constraints

    # weights concentrate mass on value 10: the weighted median is
    # 10 by any convention that pools ties.
    df = spark.createDataFrame(
        [("g1", 1.0, 1.0), ("g1", 10.0, 8.0), ("g1", 100.0, 1.0),
         ("g2", 1.0, 1.0), ("g2", 2.0, 1.0)],
        "g string, v double, w double")
    # in-bounds passes
    assert check_weighted_quantile_constraints(
        df.filter("g = 'g1'"), "v", "w", [(0.5, 5.0, 20.0)]).count() == 0
    # out-of-bounds yields the violation row with the quantile value
    v = check_weighted_quantile_constraints(
        df.filter("g = 'g1'"), "v", "w", [(0.5, 20.0, 50.0)]).collect()
    assert len(v) == 1 and v[0]["value"] == 10.0
    assert v[0]["quantile"] == 0.5 and v[0]["lo"] == 20.0
    # strictly: a value AT the bound violates
    assert check_weighted_quantile_constraints(
        df.filter("g = 'g1'"), "v", "w", [(0.5, 10.0, 20.0)],
        strictly=True).count() == 1
    assert check_weighted_quantile_constraints(
        df.filter("g = 'g1'"), "v", "w", [(0.5, 10.0, 20.0)],
        strictly=False).count() == 0
    # group_by: only the offending group appears
    v = check_weighted_quantile_constraints(
        df, "v", "w", [(0.5, 5.0, 20.0)], by=["g"]).collect()
    assert len(v) == 1 and v[0]["g"] == "g2"
    # row_condition filters before pooling: excluding the outlier
    # rows moves g1's weighted median nowhere (mass already at 10)
    # but dropping the v=10 rows moves it out of bounds
    assert check_weighted_quantile_constraints(
        df.filter("g = 'g1'"), "v", "w", [(0.5, 5.0, 20.0)],
        row_condition="v <> 10.0").count() == 1
    # multiple constraints union violations
    assert check_weighted_quantile_constraints(
        df.filter("g = 'g1'"), "v", "w",
        [(0.5, 20.0, 50.0), (0.5, 0.0, 5.0)]).count() == 2


# --- r13 (second pass): the four standalone dbt/macros/ shapes. ---


def test_one_value_per_key(spark):
    from pudl_spark.validate import check_one_value_per_key

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2), ("b", 3), (None, 4), (None, 5)],
        "k string, v int")
    v = check_one_value_per_key(df, "k", "v").collect()
    # NULL keys excluded (the reference's WHERE key IS NOT NULL)
    assert [(r["key_value"], r["distinct_count"]) for r in v] == [("b", 2)]
    # one-directional: v->k multi-mapping is NOT this check's concern
    assert check_one_value_per_key(
        df.filter("v = 1"), "k", "v").count() == 0


def test_column_change_within_ratio(spark):
    from pudl_spark.validate import check_column_change_within_ratio

    df = spark.createDataFrame(
        [("g", 1, 100.0), ("g", 2, 110.0), ("g", 3, 300.0),
         ("g", 4, 0.0), ("g", 5, 50.0),
         ("h", 1, 10.0), ("h", 2, 10.5)],
        "grp string, t int, val double")
    v = sorted(check_column_change_within_ratio(
        df, "val", "grp", "t", max_pct_change=0.5).collect(),
        key=lambda r: r["ts"])
    # 110->300 (+173%) and 300->0 (-100%) violate; 0->50 has prev=0
    # -> NULL pct -> passes (reference CASE); first rows have no prev.
    assert [(r["grp"], r["ts"]) for r in v] == [("g", 3), ("g", 4)]
    assert abs(v[0]["pct_change"] - (190.0 / 110.0)) < 1e-12
    assert v[1]["pct_change"] == 1.0
    # row_condition filters before lagging: dropping t=3 re-pairs
    # t=2 (110) with t=4 (0) — still -100%, one violation; t=4's
    # zero then shields t=5 as before.
    v = check_column_change_within_ratio(
        df, "val", "grp", "t", 0.5, row_condition="t <> 3").collect()
    assert [(r["grp"], r["ts"]) for r in v] == [("g", 4)]
    assert v[0]["prev_val"] == 110.0


def test_columns_ratio(spark):
    import pytest

    from pudl_spark.validate import check_columns_ratio

    df = spark.createDataFrame(
        [(1, 10.0, 100.0), (2, 80.0, 100.0), (3, 10.0, 0.0),
         (4, 10.0, None)],
        "id int, num double, den double")
    # zero/NULL denominators pass; 80/100=0.8 breaks max 0.5
    v = check_columns_ratio(df, "num", "den", max_ratio=0.5).collect()
    assert len(v) == 1 and v[0]["id"] == 2
    assert v[0]["num_failures"] == 1
    # error_threshold: one failure tolerated -> empty
    assert check_columns_ratio(
        df, "num", "den", max_ratio=0.5, error_threshold=1).count() == 0
    assert check_columns_ratio(
        df, "num", "den", min_ratio=0.05, max_ratio=0.9).count() == 0
    with pytest.raises(ValueError, match="at least"):
        check_columns_ratio(df, "num", "den")


def test_summed_columns_not_exceed_threshold(spark):
    from pudl_spark.validate import (
        check_summed_columns_not_exceed_threshold,
    )

    df = spark.createDataFrame(
        [(1, 40.0, 50.0, 100.0), (2, 80.0, 50.0, 100.0),
         (3, None, 50.0, 100.0), (4, 40.0, 50.0, None)],
        "id int, a double, b double, cap double")
    v = check_summed_columns_not_exceed_threshold(
        df, "a", "b", "cap").collect()
    # only 80+50 > 100; NULL sums and NULL thresholds pass
    assert len(v) == 1 and v[0]["id"] == 2
    assert v[0]["column_sum"] == 130.0 and v[0]["max_threshold"] == 100.0
    # multiplier loosens the cap; threshold tolerates
    assert check_summed_columns_not_exceed_threshold(
        df, "a", "b", "cap", multiplier=1.5).count() == 0
    assert check_summed_columns_not_exceed_threshold(
        df, "a", "b", "cap", error_threshold=1).count() == 0


def test_debug_quantile_constraints(spark):
    """The debug twin (ref: dbt/macros/debug_quantile_constraints.sql)
    reports EVERY constraint row unfiltered — value next to bounds,
    NULL-able bounds — and agrees with the filtered checks on which
    rows violate."""
    from pudl_spark.validate import (
        check_quantile_constraints, debug_quantile_constraints,
    )

    df = spark.createDataFrame(
        [(float(v), 1.0) for v in range(1, 101)], "x double, w double")
    cons = [(0.5, 40.0, 60.0),   # median 50.5: in bounds
            (0.9, None, 80.0),   # p90 ~90: violates, open lower bound
            (0.1, 0.0, None)]    # p10 ~10: in bounds, open upper
    dbg_df = debug_quantile_constraints(df, "x", cons)
    # one scan, one Aggregate for the whole unweighted constraint
    # list (ADVICE r14): the stats row unpivots via stack(), no
    # per-constraint replay of the aggregation
    from tests.plan_utils import optimized_plan_classes
    assert optimized_plan_classes(dbg_df).count("Aggregate") == 1
    dbg = {r["quantile"]: r for r in dbg_df.collect()}
    assert len(dbg) == 3
    assert abs(dbg[0.5]["value"] - 50.5) < 1e-9
    assert dbg[0.9]["min_value"] is None
    assert dbg[0.1]["max_value"] is None
    # the debug view shows all rows; the check filters to violations
    viol = check_quantile_constraints(
        df, "x", [(0.5, 40.0, 60.0), (0.9, 0.0, 80.0)]).collect()
    assert len(viol) == 1 and viol[0]["quantile"] == 0.9
    assert abs(viol[0]["value"] - dbg[0.9]["value"]) < 1e-9
    # weighted form routes through the pooled-ties weighted_quantile
    wdbg = debug_quantile_constraints(
        df, "x", [(0.5, None, None)], weight_col="w").collect()
    assert len(wdbg) == 1 and abs(wdbg[0]["value"] - 50.5) < 1e-9
    # row_condition pre-filters like the macro's where subquery
    cdbg = debug_quantile_constraints(
        df, "x", [(0.5, None, None)], row_condition="x <= 50").collect()
    assert abs(cdbg[0]["value"] - 25.5) < 1e-9


def test_subcomponents_sum_to_total(spark):
    from pudl_spark.validate import check_subcomponents_sum_to_total

    rows = [
        # e1: fuel 10 + labor 5 == total 15: consistent
        ("e1", "fuel", 10.0), ("e1", "labor", 5.0), ("e1", "total", 15.0),
        # e2: 10 + 5 != 20
        ("e2", "fuel", 10.0), ("e2", "labor", 5.0), ("e2", "total", 20.0),
        # e3: no total row -> NULL comparison -> passes
        ("e3", "fuel", 1.0),
    ]
    df = spark.createDataFrame(rows, "entity string, cat string, v double")
    v = check_subcomponents_sum_to_total(
        df, ["entity"], "cat", "v", "total").collect()
    assert len(v) == 1 and v[0]["entity"] == "e2"
    assert v[0]["subcomponents_sum"] == 15.0
    assert v[0]["grand_total"] == 20.0 and v[0]["absolute_diff"] == 5.0
    assert v[0]["pct_diff"] == 25.0
    # explicit subcomponents list: only the listed categories count
    # (e2 becomes consistent when only fuel+labor... still 15 != 20;
    # list excluding labor makes it 10 != 20, still failing; listing
    # a rebate as NEGATIVE fixes e4)
    rows4 = [("e4", "fuel", 25.0), ("e4", "rebate", 5.0),
             ("e4", "total", 20.0)]
    df4 = spark.createDataFrame(rows4, "entity string, cat string, v double")
    assert check_subcomponents_sum_to_total(
        df4, ["entity"], "cat", "v", "total").count() == 1
    assert check_subcomponents_sum_to_total(
        df4, ["entity"], "cat", "v", "total",
        subcomponents=["fuel"],
        negative_subcomponents=["rebate"]).count() == 0
    # row_condition pre-filters
    assert check_subcomponents_sum_to_total(
        df, ["entity"], "cat", "v", "total",
        row_condition="entity <> 'e2'").count() == 0
    # ADVICE r13 pin: with the default subcomponents=None the first
    # CASE branch captures every non-total category, so negatives are
    # unreachable (the reference's CASE order) — the call warns and
    # the result is identical to not passing negatives at all.
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        got = check_subcomponents_sum_to_total(
            df4, ["entity"], "cat", "v", "total",
            negative_subcomponents=["rebate"]).collect()
    assert any("negative_subcomponents has no effect" in str(c.message)
               for c in caught)
    want = check_subcomponents_sum_to_total(
        df4, ["entity"], "cat", "v", "total").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 1  # e4 still fails: rebate did NOT subtract


def test_table_quality_screens_plan_pruning(spark):
    """Column-pruning pin for the registered composite: at 100 TB the
    composite's cost is scan bytes, so every file scan must be pruned
    to the columns its check needs. Lineitem scans read at most the
    five check columns; orders scans read at most the three shared
    columns (date, custkey, priority), except not-all-null's one
    full-width pass; the only other files are the single-column
    dimension reads. The events pin carries only the nulled value
    column."""
    from plan_utils import file_scan_schemas, rdd_scan_schemas

    from pudl_spark.plans.queries import QUERIES

    df = QUERIES["table_quality_screens"](spark,
                                          "/root/testdata/sf0.001")
    assert ("value",) in rdd_scan_schemas(df)
    li_cols = {"l_discount", "l_extendedprice", "l_quantity",
               "l_returnflag", "l_tax"}
    shared = {"o_custkey", "o_orderdate", "o_orderpriority"}
    full_orders = 0
    for table, cols in file_scan_schemas(df):
        if table.startswith("lineitem"):
            assert set(cols) <= li_cols, (table, cols)
        elif table.startswith("orders"):
            if "o_orderkey" in cols:
                full_orders += 1
                assert len(cols) > 3, (table, cols)  # full width
            else:
                assert set(cols) <= shared, (table, cols)
        else:
            assert table.startswith(("nation", "region")), (table, cols)
            assert len(cols) <= 1, (table, cols)
    assert full_orders == 1


def test_consistent_years(spark):
    """expect_consistent_years.sql parity (r14): mismatch RATIO
    bounded, NULLs excluded, empty input passes, violation row
    mirrors the reference's stats shape."""
    from pudl_spark.validate import check_consistent_years

    df = spark.createDataFrame(
        [("2020-12-31 23:30:00", "2020-12-01"),   # same year
         ("2021-01-01 00:30:00", "2020-12-31"),   # tz straddle
         ("2021-06-01 12:00:00", "2021-06-01"),
         (None, "2021-01-01"),                    # NULL excluded
         ("2021-07-01 00:00:00", None)],
        "dt string, d string").selectExpr(
        "to_timestamp(dt) AS dt", "CAST(d AS DATE) AS d")
    # 1 of 3 non-null rows mismatches: fails a 0.1% default bound...
    v = check_consistent_years(df, "dt", "d").collect()
    assert len(v) == 1
    assert v[0]["total_records"] == 3
    assert v[0]["mismatched_records"] == 1
    assert abs(v[0]["mismatch_ratio"] - 1 / 3) < 1e-12
    # the reason string matches the reference macro's rendering
    # exactly (ADVICE r14): ratio rounded to 5 decimals, the
    # '(N of M)' counts segment, threshold as a percentage
    assert v[0]["failure_reason"] == (
        "Found 33.33333% (1 of 3) mismatched years between dt and d,"
        " exceeds threshold of 0.1%")
    # ...and passes a 50% bound
    assert check_consistent_years(df, "dt", "d", 0.5).count() == 0
    # empty input: ratio 0, passes even a 0 threshold is not exceeded
    assert check_consistent_years(
        df.filter("dt IS NULL AND d IS NULL"), "dt", "d").count() == 0


def test_validation_over_cached_projections(spark):
    """SCALE.md's "production validation job" note, executable
    (VERDICT r14 #7): the certified `table_quality_screens` row
    deliberately lets each of its eleven checks scan the source in
    isolation; a production job instead hands every check ONE cached
    pruned projection per table. This demo runs all eleven check
    shapes over five cached projections (lineitem x5 checks,
    orders x4, events, nation+region) and pins BOTH claims: the
    unioned plan reads NO file source (every check consumes the
    in-memory relations, so each table's parquet is scanned exactly
    once, at cache fill), and the violation counts are identical to
    the uncached runs."""
    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.validate import (
        check_column_change_within_ratio, check_column_correlation,
        check_column_fraction_with_condition,
        check_columns_not_all_null, check_columns_ratio,
        check_date_frequency_ratio,
        check_includes_all_value_combinations_from,
        check_missingness_between, check_one_value_per_key,
        check_summed_columns_not_exceed_threshold,
        check_weighted_quantile_constraints,
    )
    from tests.plan_utils import file_scan_schemas

    sf = "/root/testdata/sf0.001"

    def projections():
        li = read_parquet_table(spark, f"{sf}/lineitem.parquet") \
            .select("l_quantity", "l_extendedprice", "l_returnflag",
                    "l_discount", "l_tax") \
            .withColumn("cap", F.lit(0.12))
        orders = read_parquet_table(spark, f"{sf}/orders.parquet") \
            .select("o_custkey", "o_orderpriority", "o_orderdate") \
            .withColumn("ghost", F.lit(None).cast("string"))
        ev = read_parquet_table(spark, f"{sf}/events.parquet") \
            .select("event_id", "value") \
            .withColumn("value", F.when(F.col("event_id") % 13 != 0,
                                        F.col("value")))
        nat = read_parquet_table(spark, f"{sf}/nation.parquet") \
            .select(F.col("n_regionkey").alias("k"))
        reg = read_parquet_table(spark, f"{sf}/region.parquet") \
            .select(F.col("r_regionkey").alias("k"))
        return li, orders, ev, nat, reg

    def screens(li, orders, ev, nat, reg):
        mat = F.when(F.year("o_orderdate") == 2001,
                     F.lit("incremental_ytd")).otherwise(F.lit("final"))
        monthly = orders.select(
            F.date_trunc("month", "o_orderdate").alias("report_date"),
            mat.alias("data_maturity"))
        annual = orders.select(
            F.date_trunc("year", "o_orderdate").alias("report_date"),
            mat.alias("data_maturity"))
        yearly = orders.groupBy(
            "o_orderpriority", F.year("o_orderdate").alias("y")).agg(
            F.count(F.lit(1)).cast("double").alias("n"))
        want = reg.unionByName(
            spark.range(1).select(F.lit(99).cast("long").alias("k")))
        checks = {
            "correlation": check_column_correlation(
                li, "l_quantity", "l_extendedprice", 0.5),
            "fraction": check_column_fraction_with_condition(
                li, "l_quantity", F.col("l_returnflag") == "R",
                0.2, 0.5),
            "not_all_null": check_columns_not_all_null(
                orders, table_name="orders"),
            "combinations": check_includes_all_value_combinations_from(
                nat, want, ["k"]),
            "missingness": check_missingness_between(
                ev, "value", 0.0, 0.05),
            "date_frequency": check_date_frequency_ratio(
                monthly, annual, 12),
            "weighted_quantile": check_weighted_quantile_constraints(
                li, "l_extendedprice", "l_quantity",
                [(0.5, 20000.0, 80000.0)]),
            "one_value_per_key": check_one_value_per_key(
                orders, "o_custkey", "o_orderpriority"),
            "change_within_ratio": check_column_change_within_ratio(
                yearly, "n", "o_orderpriority", "y",
                max_pct_change=0.5),
            "columns_ratio": check_columns_ratio(
                li, "l_discount", "l_tax", max_ratio=2.0),
            "summed_threshold": check_summed_columns_not_exceed_threshold(
                li, "l_discount", "l_tax", "cap"),
        }
        rows = [v.agg(F.count(F.lit(1)).cast("long")
                      .alias("n_violations"))
                .select(F.lit(k).alias("check_name"), "n_violations")
                for k, v in checks.items()]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out

    raw = screens(*projections())
    assert len(file_scan_schemas(raw)) >= 11  # isolated: scan per check
    cached = [p.cache() for p in projections()]
    try:
        prod = screens(*cached)
        # zero file scans: all eleven checks read the five cached
        # projections; each parquet is hit once, at cache fill
        assert file_scan_schemas(prod) == []
        got = sorted(map(tuple, prod.collect()))
        want = sorted(map(tuple, raw.collect()))
        assert got == want and len(got) == 11
    finally:
        for p in cached:
            p.unpersist()
