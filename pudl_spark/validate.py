"""Data-validation checks — the reference's dbt-over-DuckDB test layer
re-expressed as Spark aggregations.

Refs: generic dbt tests in dbt/tests/data_tests/generic_tests/
(expect_quantile_constraints.sql, expect_columns_are_close.sql,
expect_sum_close_to_total_column.sql, expect_one2one_mapping.sql,
foreign_key.sql, check_row_counts_per_partition.sql, and — r13,
VERDICT r12 #4 — check_column_correlation.sql,
expect_column_fraction_with_condition.sql,
expect_includes_all_value_combinations_from.sql,
expect_columns_not_all_null.sql, expect_missingness_between.sql,
expect_date_frequency_ratio.sql,
expect_column_weighted_quantile_values_to_be_between.sql), the
standalone test macros under dbt/macros/ (weighted_quantile.sql,
one_value_per_key.sql, expect_column_change_within_ratio.sql,
expect_columns_ratio.sql,
expect_summed_columns_not_exceed_threshold.sql,
expect_subcomponents_sum_to_total.sql), and the golden row counts in
dbt/seeds/etl_full_row_counts.csv enforced by
tests/validate/row_counts_test.py:20-46.

Every check returns a *violations DataFrame* (empty == pass) so checks
compose into the asset DAG and never collect more than the failure
set; `assert_empty` raises driver-side with a bounded sample, matching
the reference's strict failure modes scale-safely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pudl_spark.schema.enforce import fk_orphan_rows
from pudl_spark.sql import ident, lit


class ValidationError(AssertionError):
    """A data-validation check failed."""


def assert_empty(violations: DataFrame, check: str,
                 sample: int = 5) -> None:
    """Raise ValidationError with a bounded sample if any rows exist."""
    rows = violations.limit(sample + 1).collect()
    if rows:
        shown = [r.asDict() for r in rows[:sample]]
        raise ValidationError(f"{check}: violations, e.g. {shown}")


def check_row_counts_per_partition(df: DataFrame,
                                   partition_col: str | None,
                                   expected: dict) -> DataFrame:
    """Golden per-partition row counts (ref: row_counts_per_partition
    macro + etl_full_row_counts.csv seed; unit fixtures
    dbt/tests/unit_tests/test_row_counts_*.sql). ``expected`` maps
    partition value -> exact count. One aggregation; the expected
    side joins as a broadcast literal table. Reference parity (r14):
    NULL partition values COALESCE to '' before the join (the
    macro's ``COALESCE(CAST(partition AS VARCHAR), '')`` — a NULL
    key must match an expected '' row, not dangle through the full
    outer join), a None key in ``expected`` likewise maps to '',
    and ``partition_col=None`` selects the macro's whole-table mode
    (one count keyed ''). The observed side groups by the RAW cast
    value and coalesces AFTER aggregation — the macro's
    ``GROUP BY {{ partition_expr }}`` with the COALESCE in the
    SELECT — so a frame containing both NULL and literal ''
    partition values produces TWO '' observed rows that each join
    the expected '' row and both violate (ADVICE r14; pinned in
    tests/test_validate_and_forest.py). Extra observed partitions,
    missing expected partitions and count mismatches all violate,
    exactly the macro's WHERE.
    """
    spark = df.sparkSession
    col_name = partition_col or "partition"
    exp = spark.createDataFrame(
        [("" if k is None else str(k), int(v))
         for k, v in expected.items()],
        f"{col_name} string, expected_count long")
    if partition_col is None:
        got = df.agg(F.count(F.lit(1)).alias("actual_count")) \
            .select(F.lit("").alias(col_name), "actual_count")
    else:
        got = (df.groupBy(
            F.col(partition_col).cast("string").alias("__raw_part"))
            .agg(F.count(F.lit(1)).alias("actual_count"))
            .select(F.coalesce("__raw_part", F.lit(""))
                    .alias(col_name), "actual_count"))
    return (
        got.join(F.broadcast(exp), on=col_name, how="full_outer")
        .filter(
            F.col("actual_count").isNull() | F.col("expected_count").isNull()
            | (F.col("actual_count") != F.col("expected_count")))
    )


def check_quantile_constraints(
        df: DataFrame, col: str,
        constraints: list[tuple[float, float, float]]) -> DataFrame:
    """Quantiles of ``col`` must land inside [lo, hi]
    (ref: expect_quantile_constraints.sql). ``constraints`` is a list
    of (quantile, lo, hi); all quantiles compute in ONE aggregation
    pass. The weighted twin is operators.aggregate.weighted_quantile
    (ref: dbt/macros/weighted_quantile.sql).
    """
    aggs, bounds = [], []
    for i, (q, lo, hi) in enumerate(constraints):
        aggs.append(F.expr(f"percentile({ident(col)}, {q})").alias(f"q{i}"))
        bounds.append((i, q, lo, hi))
    row = df.agg(*aggs)
    checks = []
    for i, q, lo, hi in bounds:
        checks.append(
            row.select(
                F.lit(col).alias("column"), F.lit(q).alias("quantile"),
                F.col(f"q{i}").alias("value"),
                F.lit(lo).alias("lo"), F.lit(hi).alias("hi"))
            .filter((F.col("value") < lo) | (F.col("value") > hi)))
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def check_columns_are_close(df: DataFrame, col_a: str, col_b: str,
                            rel_tol: float = 1e-6,
                            key_cols: list[str] | None = None) -> DataFrame:
    """Row-wise |a-b| <= rel_tol * max(|a|,|b|)
    (ref: expect_columns_are_close.sql). NULL on both sides passes.
    """
    a, b = F.col(col_a), F.col(col_b)
    bad = ~(
        (a.isNull() & b.isNull())
        | (F.abs(a - b) <= rel_tol * F.greatest(F.abs(a), F.abs(b)))
    )
    keep = (key_cols or []) + [col_a, col_b]
    return df.filter(bad).select(*keep)


def check_sum_close_to_total(df: DataFrame, group_cols: list[str],
                             part_col: str, total_col: str,
                             rel_tol: float = 1e-6) -> DataFrame:
    """Sum of parts per group must match the (constant-in-group) total
    (ref: expect_sum_close_to_total_column.sql; also the allocation
    conservation check, analysis/allocate_gen_fuel.py:63-68).
    """
    agg = df.groupBy(*group_cols).agg(
        F.sum(part_col).alias("sum_parts"),
        F.first(total_col).alias("total"))
    bad = ~(F.abs(F.col("sum_parts") - F.col("total"))
            <= rel_tol * F.greatest(F.abs(F.col("sum_parts")),
                                    F.abs(F.col("total"))))
    return agg.filter(bad)


def check_one2one_mapping(df: DataFrame, col_a: str,
                          col_b: str) -> DataFrame:
    """Each value of a maps to exactly one b and vice versa
    (ref: expect_one2one_mapping.sql). Two tiny distinct-aggs.
    """
    a_multi = (df.groupBy(col_a)
               .agg(F.count_distinct(col_b).alias("n"))
               .filter(F.col("n") > 1)
               .select(F.col(col_a).cast("string").alias("value"),
                       F.lit(col_a).alias("side"), "n"))
    b_multi = (df.groupBy(col_b)
               .agg(F.count_distinct(col_a).alias("n"))
               .filter(F.col("n") > 1)
               .select(F.col(col_b).cast("string").alias("value"),
                       F.lit(col_b).alias("side"), "n"))
    return a_multi.unionByName(b_multi)


def check_foreign_key_df(child: DataFrame, child_cols: list[str],
                         parent: DataFrame,
                         parent_cols: list[str]) -> DataFrame:
    """FK orphans as a violations frame of distinct orphan keys (ref:
    foreign_key.sql; the count form is schema.enforce.check_foreign_key).
    """
    return (fk_orphan_rows(child, child_cols, parent, parent_cols)
            .select(*child_cols).dropDuplicates())


def observed_counts(df: DataFrame, name: str,
                    exprs: dict[str, F.Column]):
    """Single-pass ETL counters via DataFrame.observe: attach named
    aggregate expressions to the frame and read them AFTER an action
    without a second scan — the production pattern for data-quality
    tallies (null counts, out-of-range counts) that must not double
    the job's I/O. Returns (observed_df, observation); call
    ``observation.get`` once an action has run.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    named = [c.alias(k) for k, c in exprs.items()]
    return df.observe(obs, *named), obs


# --- r13: the six remaining reusable dbt generic-test shapes
#     (VERDICT r12 #4). Same contract as above: every check returns a
#     violations DataFrame (empty == pass) and runs as one or two
#     bounded aggregations, never a per-column table scan. ---


def check_column_correlation(df: DataFrame, col_a: str, col_b: str,
                             min_corr: float) -> DataFrame:
    """Pearson correlation of two columns must reach ``min_corr``
    (ref: check_column_correlation.sql — ``corr(c1, c2) <
    threshold`` fails). One aggregation; the violation row carries
    the observed coefficient. A NULL coefficient (constant or empty
    input) passes, matching the reference's NULL-comparison
    semantics.
    """
    # corr via try_divide(covar, stddev*stddev): under Spark 4's ANSI
    # mode F.corr THROWS on a zero-variance column, where the
    # reference's corr() yields NULL (passes); the explicit form
    # restores the reference's NULL semantics.
    row = df.agg(F.try_divide(
        F.covar_samp(col_a, col_b),
        F.stddev_samp(col_a) * F.stddev_samp(col_b))
        .alias("correlation"))
    return (row.select(
        F.lit(col_a).alias("column_a"), F.lit(col_b).alias("column_b"),
        "correlation", F.lit(float(min_corr)).alias("min_corr"))
        .filter(F.col("correlation") < min_corr))


def check_column_fraction_with_condition(
        df: DataFrame, col: str, condition,
        min_fraction: float, max_fraction: float) -> DataFrame:
    """The ``col``-weighted fraction of rows satisfying ``condition``
    must land in [min_fraction, max_fraction] (ref:
    expect_column_fraction_with_condition.sql): actual_fraction =
    SUM(CASE WHEN cond THEN col ELSE 0 END) / SUM(col). Parameter
    validation mirrors the reference's compile-time errors
    (raise_compiler_error -> ValueError). ``condition`` is a Column
    predicate or SQL string. One aggregation.
    """
    if not 0.0 <= min_fraction <= 1.0:
        raise ValueError(
            f"min_fraction must be between 0.0 and 1.0, got: {min_fraction}")
    if not 0.0 <= max_fraction <= 1.0:
        raise ValueError(
            f"max_fraction must be between 0.0 and 1.0, got: {max_fraction}")
    if min_fraction > max_fraction:
        raise ValueError(
            f"min_fraction ({min_fraction}) cannot be greater than "
            f"max_fraction ({max_fraction})")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    num = F.sum(F.when(cond, F.col(col)).otherwise(F.lit(0)))
    # try_divide: a zero/empty total yields NULL -> passes (both
    # bound comparisons are false on NULL), matching the
    # NULLIF-style semantics check_missingness_between uses. A plain
    # division would produce NaN here, which Spark orders ABOVE
    # every number — a spurious "violation" at any bounds.
    row = df.agg(
        F.try_divide(num * F.lit(1.0), F.sum(col))
        .alias("actual_fraction"),
        num.alias("condition_sum"), F.sum(col).alias("total_sum"))
    # The bounds evaluate against the UNROUNDED fraction: the
    # reference's WHERE clause reads the raw CTE value — round() in
    # its SELECT is display-only (ADVICE r13). Filtering the rounded
    # value would pass a true fraction within ~5e-5 of a bound
    # (0.50004 vs max_fraction=0.5 rounds to exactly 0.5).
    return (row.filter((F.col("actual_fraction") < min_fraction)
                       | (F.col("actual_fraction") > max_fraction))
            .select(
        F.lit(col).alias("column"),
        F.round("actual_fraction", 4).alias("actual_fraction"),
        F.lit(float(min_fraction)).alias("min_fraction"),
        F.lit(float(max_fraction)).alias("max_fraction"),
        F.round("condition_sum", 4).alias("condition_sum"),
        F.round("total_sum", 4).alias("total_sum")))


def check_includes_all_value_combinations_from(
        df: DataFrame, compare: DataFrame,
        cols: list[str]) -> DataFrame:
    """Every distinct ``cols`` combination present in ``compare``
    must also appear in ``df`` (ref:
    expect_includes_all_value_combinations_from.sql — DISTINCT
    compare EXCEPT DISTINCT model). Violations are the missing
    combinations. Two distinct-aggregations + a left-anti join on
    the (already deduplicated, usually small) combination frames —
    never a row-level EXCEPT over the full tables. The join is
    NULL-SAFE on every column: SQL's EXCEPT treats NULLs as equal,
    so a combination with a NULL member that exists on both sides
    must NOT be reported missing (a plain equi-anti-join would).
    """
    want = compare.select(*cols).dropDuplicates()
    have = df.select(
        *[F.col(c).alias(f"__h_{c}") for c in cols]).dropDuplicates()
    pred = None
    for c in cols:
        cond = F.col(c).eqNullSafe(F.col(f"__h_{c}"))
        pred = cond if pred is None else (pred & cond)
    return want.join(have, on=pred, how="left_anti")


def check_columns_not_all_null(
        df: DataFrame, table_name: str = "table",
        exclude_columns: list[str] | None = None,
        row_conditions: dict[str, object] | None = None) -> DataFrame:
    """No column may be entirely NULL (ref:
    expect_columns_not_all_null.sql), optionally under a per-column
    row condition (fail if the condition matches >0 rows but the
    column is NULL on all of them). The reference UNION-ALLs one
    scan per column; here ALL columns check in ONE aggregation pass
    (a conditional count pair per column) whose single row unpivots
    to one row per column via stack() — fully LAZY (r14; the
    earlier form collected the stats row driver-side, which made
    every composite embedding this check pay an extra driver
    action). Violation columns mirror the reference's.
    """
    exclude = set(exclude_columns or ())
    conds = {k: (F.expr(v) if isinstance(v, str) else v)
             for k, v in (row_conditions or {}).items()}
    cols = [c for c in df.columns if c not in exclude]
    schema = ("table_name string, failing_column string, "
              "failure_reason string, row_condition string, "
              "total_rows_matching_condition long, non_null_count long")
    if not cols:
        return df.sparkSession.createDataFrame([], schema)
    aggs = []
    for i, c in enumerate(cols):
        cond = conds.get(c, F.lit(True))
        aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"t{i}"))
        aggs.append(F.count(F.when(cond, F.col(c))).alias(f"n{i}"))
    stats = df.agg(*aggs)
    stack_args = ", ".join(
        f"{lit(c)}, t{i}, n{i}" for i, c in enumerate(cols))
    unpivoted = stats.select(F.expr(
        f"stack({len(cols)}, {stack_args}) as "
        f"(failing_column, total_rows_matching_condition, "
        f"non_null_count)"))
    reason = F.lit("Column is entirely NULL")
    shown = F.lit("N/A (entire table)")
    for c in (row_conditions or {}):
        match = F.col("failing_column") == c
        reason = F.when(
            match,
            F.lit(f"Conditional check failed: {row_conditions[c]}")
        ).otherwise(reason)
        shown = F.when(match, F.lit(str(row_conditions[c]))) \
            .otherwise(shown)
    return (unpivoted
            .filter((F.col("total_rows_matching_condition") > 0)
                    & (F.col("non_null_count") == 0))
            .select(F.lit(table_name).alias("table_name"),
                    "failing_column",
                    reason.alias("failure_reason"),
                    shown.alias("row_condition"),
                    F.col("total_rows_matching_condition")
                    .cast("long")
                    .alias("total_rows_matching_condition"),
                    F.col("non_null_count").cast("long")
                    .alias("non_null_count")))


def check_missingness_between(df: DataFrame, col: str,
                              lower_bound: float = 0.0,
                              upper_bound: float = 1.0) -> DataFrame:
    """The NULL fraction of ``col`` must land in
    [lower_bound, upper_bound] (ref: expect_missingness_between.sql).
    One aggregation; an empty input yields a NULL proportion, which
    passes (the reference's NULLIF + HAVING semantics).
    """
    row = df.agg(
        F.count(F.lit(1)).alias("total_records"),
        (F.count(F.lit(1)) - F.count(col)).alias("null_records"))
    prop = (F.col("null_records").cast("double")
            / F.nullif(F.col("total_records"), F.lit(0)))
    return (row.select("total_records", "null_records",
                       prop.alias("null_proportion"))
            .filter((F.col("null_proportion") < lower_bound)
                    | (F.col("null_proportion") > upper_bound)))


def check_date_frequency_ratio(
        df: DataFrame, compare: DataFrame, multiplier: int,
        date_col: str = "report_date",
        model_has_data_maturity: bool = True,
        compare_has_data_maturity: bool = True) -> DataFrame:
    """Across years present in BOTH frames, the model's distinct
    ``date_col`` count must equal the compare frame's times
    ``multiplier`` — the monthly:annual 12:1 shape (ref:
    expect_date_frequency_ratio.sql). Mirrors the reference's
    provisional-data screen: when the has_data_maturity flag is set,
    rows with data_maturity IN ('incremental_ytd', 'monthly_update')
    are excluded (NULL maturity kept). Two small per-year
    distinct-counts joined on year, then one scalar comparison.
    """
    def years(frame: DataFrame, maturity: bool) -> DataFrame:
        out = frame.filter(F.col(date_col).isNotNull())
        if maturity:
            out = out.filter(
                ~F.col("data_maturity").isin(
                    "incremental_ytd", "monthly_update")
                | F.col("data_maturity").isNull())
        return (out.groupBy(F.year(date_col).alias("year"))
                .agg(F.count_distinct(date_col).alias("date_count")))

    m = years(df, model_has_data_maturity)
    c = years(compare, compare_has_data_maturity)
    totals = (m.join(c.withColumnRenamed("date_count", "compare_count"),
                     on="year", how="inner")
              .agg(F.coalesce(F.sum("date_count"), F.lit(0))
                   .alias("model_total"),
                   F.coalesce(F.sum("compare_count"), F.lit(0))
                   .alias("compare_total")))
    return (totals.select(
        "model_total", "compare_total",
        F.lit(int(multiplier)).alias("expected_multiplier"))
        .filter(F.col("model_total")
                != F.col("compare_total") * multiplier))


def check_weighted_quantile_constraints(
        df: DataFrame, col: str, weight_col: str,
        constraints: list[tuple[float, float, float]],
        by: list[str] | None = None,
        row_condition=None, strictly: bool = False) -> DataFrame:
    """Weighted quantiles of ``col`` must land inside [lo, hi] (ref:
    expect_column_weighted_quantile_values_to_be_between.sql — the
    weighted_quantile macro piped through expression_between). The
    weighted twin of check_quantile_constraints, same
    list-of-(quantile, lo, hi) shape; computes through the
    engine's interpolated pooled-ties weighted_quantile
    (operators/aggregate.py — the dbt macro's Spark twin), one
    window pass per constraint over the pooled (value, weight)
    frame. ``strictly`` mirrors the reference: bounds become
    exclusive. ``row_condition`` (Column or SQL string) filters
    before pooling, and ``by`` yields one violation row per
    offending group.
    """
    from pudl_spark.operators.aggregate import weighted_quantile

    if row_condition is not None:
        pred = (F.expr(row_condition)
                if isinstance(row_condition, str) else row_condition)
        df = df.filter(pred)
    by = by or []
    checks = []
    for q, lo, hi in constraints:
        wq = weighted_quantile(df, col, weight_col, q, by=by,
                               out_col="value")
        bad_lo = (F.col("value") <= lo) if strictly \
            else (F.col("value") < lo)
        bad_hi = (F.col("value") >= hi) if strictly \
            else (F.col("value") > hi)
        checks.append(wq.select(
            *by, F.lit(col).alias("column"),
            F.lit(float(q)).alias("quantile"), "value",
            F.lit(float(lo)).alias("lo"), F.lit(float(hi)).alias("hi"))
            .filter(bad_lo | bad_hi))
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def check_consistent_years(df: DataFrame, datetime_col: str,
                           date_col: str,
                           max_mismatch_ratio: float = 0.001
                           ) -> DataFrame:
    """Years extracted from a high-frequency datetime column and its
    reporting-period date column must agree for all but a small
    fraction of rows (ref: expect_consistent_years.sql — timezone
    adjustments legitimately push a few records across New Year, so
    the test bounds the MISMATCH RATIO instead of demanding
    equality). Rows with a NULL on either side are excluded before
    the ratio, empty input passes (ratio 0), and the violation row
    mirrors the reference's single stats row (total, mismatched,
    ratio, threshold, failure_reason — the reason string matches the
    macro's rendering including the '(N of M)' counts segment and
    the threshold as a rounded percentage). One aggregation.
    """
    yd, yr = F.year(datetime_col), F.year(date_col)
    stats = (df.filter(F.col(datetime_col).isNotNull()
                       & F.col(date_col).isNotNull())
             .agg(F.count(F.lit(1)).alias("total_records"),
                  F.sum(F.when(yd != yr, F.lit(1)).otherwise(F.lit(0)))
                  .alias("mismatched_records")))
    ratio = F.when(
        F.col("total_records") > 0,
        F.col("mismatched_records").cast("double")
        / F.col("total_records")).otherwise(F.lit(0.0))
    return (stats
            .select("total_records",
                    F.coalesce("mismatched_records", F.lit(0))
                    .alias("mismatched_records"),
                    ratio.alias("mismatch_ratio"),
                    F.lit(float(max_mismatch_ratio))
                    .alias("max_allowed_ratio"),
                    F.concat(
                        F.lit("Found "),
                        F.round(ratio * 100, 5).cast("string"),
                        F.lit("% ("),
                        F.coalesce("mismatched_records", F.lit(0))
                        .cast("string"),
                        F.lit(" of "),
                        F.col("total_records").cast("string"),
                        F.lit(f") mismatched years between "
                              f"{datetime_col} and {date_col}, "
                              f"exceeds threshold of "
                              f"{round(max_mismatch_ratio * 100, 5)}"
                              f"%"))
                    .alias("failure_reason"))
            .filter(F.col("mismatch_ratio") > max_mismatch_ratio))


def debug_quantile_constraints(
        df: DataFrame, col: str,
        constraints: list[tuple[float, float | None, float | None]],
        weight_col: str | None = None,
        row_condition=None) -> DataFrame:
    """The interactive debug twin of the quantile checks (ref:
    dbt/macros/debug_quantile_constraints.sql): one row per
    constraint — (quantile, value, min_value, max_value) — WITHOUT
    the violations filter, so a failing bound can be eyeballed next
    to the computed value. The reference walks the dbt graph and
    log()s a table driver-side; here the returned DataFrame IS the
    debug view (`.show()` reproduces the macro's table). Bounds may
    be None (the macro's `default("NULL")`). Routes through the
    same computation paths as the checks: one percentile aggregation
    for the unweighted form, the pooled-ties weighted_quantile per
    constraint for the weighted form.
    """
    from pudl_spark.operators.aggregate import weighted_quantile

    if row_condition is not None:
        pred = (F.expr(row_condition)
                if isinstance(row_condition, str) else row_condition)
        df = df.filter(pred)

    def bound(v):
        return (F.lit(None).cast("double") if v is None
                else F.lit(float(v)))

    if weight_col is None:
        # ONE aggregation, ONE scan (ADVICE r14): all percentiles
        # compute in a single stats row, then stack() unpivots that
        # row to one row per constraint — no per-constraint replay
        # of the aggregation.
        agg = df.agg(*[
            F.expr(f"percentile({ident(col)}, {q})").alias(f"q{i}")
            for i, (q, _, _) in enumerate(constraints)])

        def sql_bound(v):
            return ("CAST(NULL AS DOUBLE)" if v is None
                    else lit(float(v)))

        cells = ", ".join(
            f"{lit(float(q))}, CAST(`q{i}` AS DOUBLE), "
            f"{sql_bound(lo)}, {sql_bound(hi)}"
            for i, (q, lo, hi) in enumerate(constraints))
        return agg.select(F.expr(
            f"stack({len(constraints)}, {cells}) AS "
            f"(quantile, value, min_value, max_value)"))
    rows = []
    for q, lo, hi in constraints:
        wq = weighted_quantile(df, col, weight_col, q,
                               out_col="value")
        rows.append(wq.select(
            F.lit(float(q)).alias("quantile"),
            F.col("value").cast("double").alias("value"),
            bound(lo).alias("min_value"),
            bound(hi).alias("max_value")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- r13 (second pass): the four reusable shapes living in
#     dbt/macros/ proper (the generic_tests/ port above covered the
#     test library; these are the standalone test macros). Same
#     violations-frame contract. ---


def check_one_value_per_key(df: DataFrame, key_col: str,
                            value_col: str) -> DataFrame:
    """Each non-NULL key maps to at most one distinct value (ref:
    one_value_per_key.sql — the ONE-directional half of
    check_one2one_mapping, NULL keys excluded). One distinct-agg.
    """
    return (df.filter(F.col(key_col).isNotNull())
            .groupBy(F.col(key_col).alias("key_value"))
            .agg(F.count_distinct(value_col).alias("distinct_count"))
            .filter(F.col("distinct_count") > 1))


def check_column_change_within_ratio(
        df: DataFrame, col: str, group_by: str, order_by: str,
        max_pct_change: float, row_condition=None) -> DataFrame:
    """Consecutive values of ``col`` per group (ordered by
    ``order_by``) may not change by more than ``max_pct_change``
    relative to the previous value (ref:
    expect_column_change_within_ratio.sql). A zero previous value
    yields a NULL pct_change and passes, as in the reference. One
    lag window per group — the partition is the group key, so no
    global ordering bottleneck.
    """
    from pyspark.sql import Window

    out = df
    if row_condition is not None:
        pred = (F.expr(row_condition)
                if isinstance(row_condition, str) else row_condition)
        out = out.filter(pred)
    w = Window.partitionBy(group_by).orderBy(order_by)
    prev = F.lag(col).over(w)
    pct = F.when(prev != 0, F.abs((F.col(col) - prev) / prev))
    return (out.select(F.col(group_by).alias("grp"),
                       F.col(order_by).alias("ts"),
                       F.col(col).alias("val"),
                       prev.alias("prev_val"), pct.alias("pct_change"))
            .filter(F.col("prev_val").isNotNull())
            .filter(F.col("pct_change") > max_pct_change))


def check_columns_ratio(df: DataFrame, numerator_col: str,
                        denominator_col: str,
                        min_ratio: float | None = None,
                        max_ratio: float | None = None,
                        error_threshold: int = 0) -> DataFrame:
    """Row-level ratio bounds (ref: expect_columns_ratio.sql): each
    row's numerator/denominator must land in [min_ratio, max_ratio];
    NULL or zero denominators yield a NULL ratio and pass. The check
    only FAILS when more than ``error_threshold`` rows violate —
    mirrored with a windowless count join, no driver collect.
    Parameter validation mirrors the reference's compile error.
    """
    if min_ratio is None and max_ratio is None:
        raise ValueError("check_columns_ratio: must provide at least "
                         "one of min_ratio or max_ratio")
    den = F.col(denominator_col)
    ratio = F.when(den.isNotNull() & (den != 0),
                   F.col(numerator_col) / den)
    bad = F.lit(False)
    if min_ratio is not None:
        bad = bad | (F.col("calculated_ratio") < min_ratio)
    if max_ratio is not None:
        bad = bad | (F.col("calculated_ratio") > max_ratio)
    failures = (df.withColumn("calculated_ratio", ratio)
                .filter(F.col("calculated_ratio").isNotNull())
                .filter(bad))
    summary = failures.agg(
        F.count(F.lit(1)).alias("num_failures"))
    return (failures.crossJoin(F.broadcast(summary))
            .filter(F.col("num_failures") > error_threshold))


def check_summed_columns_not_exceed_threshold(
        df: DataFrame, col_a: str, col_b: str, threshold_col: str,
        multiplier: float = 1.0,
        error_threshold: int = 0) -> DataFrame:
    """Row-level budget check (ref:
    expect_summed_columns_not_exceed_threshold.sql): a + b must not
    exceed threshold * multiplier; NULL sums or thresholds pass.
    Fails only past ``error_threshold`` violating rows, same
    count-join shape as check_columns_ratio.
    """
    col_sum = (F.col(col_a) + F.col(col_b)).alias("column_sum")
    thr = (F.col(threshold_col) * F.lit(multiplier)).alias(
        "max_threshold")
    failures = (df.select("*", col_sum, thr)
                .filter(F.col("column_sum").isNotNull()
                        & F.col("max_threshold").isNotNull()
                        & (F.col("column_sum")
                           > F.col("max_threshold"))))
    summary = failures.agg(F.count(F.lit(1)).alias("num_failures"))
    return (failures.crossJoin(F.broadcast(summary))
            .filter(F.col("num_failures") > error_threshold))


def check_subcomponents_sum_to_total(
        df: DataFrame, group_cols: list[str], categorical_col: str,
        value_col: str, total_label: str, tolerance: float = 0.01,
        row_condition=None,
        subcomponents: list[str] | None = None,
        negative_subcomponents: list[str] | None = None) -> DataFrame:
    """Within each group, the subcomponent categories' value sum must
    match the ``total_label`` category's value within ``tolerance``
    (ref: expect_subcomponents_sum_to_total.sql — the stacked-
    categorical twin of check_sum_close_to_total).
    ``negative_subcomponents`` subtract ONLY when an explicit
    ``subcomponents`` list is also given: with the default
    ``subcomponents=None`` the first CASE branch already captures
    every non-total category, so — exactly as in the reference's
    CASE order, mirrored here — the negative branch is unreachable
    and the call warns (ADVICE r13). When a category appears in both
    lists, the explicit positive listing wins (same CASE order).
    Groups with no total row yield a NULL comparison and pass. Two
    grouped aggregations, no window.
    """
    if negative_subcomponents and not subcomponents:
        import warnings

        warnings.warn(
            "negative_subcomponents has no effect without an explicit "
            "subcomponents list: the default branch already captures "
            "every non-total category (reference CASE order), so the "
            "negative branch is unreachable", stacklevel=2)
    out = df
    if row_condition is not None:
        pred = (F.expr(row_condition)
                if isinstance(row_condition, str) else row_condition)
        out = out.filter(pred)
    cat = F.col(categorical_col)
    grouped = out.groupBy(*group_cols, categorical_col).agg(
        F.sum(value_col).alias("total"))
    if subcomponents:
        signed = F.when(cat.isin(*subcomponents), F.col("total"))
    else:
        signed = F.when(cat != total_label, F.col("total"))
    if negative_subcomponents:
        signed = signed.when(cat.isin(*negative_subcomponents),
                             -F.col("total"))
    summary = grouped.groupBy(*group_cols).agg(
        F.sum(signed).alias("subcomponents_sum"),
        F.max(F.when(cat == total_label, F.col("total")))
        .alias("grand_total"))
    diff = F.abs(F.col("subcomponents_sum") - F.col("grand_total"))
    return (summary
            .withColumn("absolute_diff", diff)
            .withColumn("pct_diff",
                        F.round(diff / F.nullif(F.col("grand_total"),
                                                F.lit(0)) * 100, 2))
            .filter(F.col("absolute_diff") > tolerance))
