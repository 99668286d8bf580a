"""Schema enforcement as an operator.

Ref: ``Resource.format_df`` (src/pudl/metadata/classes.py:2026) drops
extra columns, adds missing ones as typed nulls, casts dtypes, snaps
periodic keys; ``Resource.enforce_schema`` (:2088-2127) additionally
raises on missing columns, duplicate PKs and null PKs;
``Encoder.encode`` (:558-578) maps dirty codes to canonical codes and
raises on unknown codes; FK checking is the anti-join orphan check
(ref: src/pudl/helpers.py:193, tests/validate/data_test.py:10-13).

Strict-failure semantics: the reference raises inside pandas. On Spark
we compute a *tiny* violation count/sample (violations are small by
construction) and raise driver-side — same observable behavior, scale-
safe mechanism (a count over a groupBy, never a full collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pudl_spark.schema.model import PERIODS, Resource


class SchemaError(ValueError):
    """Raised when a DataFrame violates its declared Resource schema."""


def _snap_period(df: DataFrame, pk_col: str) -> DataFrame | None:
    """Periodic column matching (ref: metadata/classes.py:1952-2024).

    A missing PK column ``report_year`` is satisfiable from a finer
    ``report_date`` by snapping to period start via date_trunc.
    """
    for suffix, unit in PERIODS.items():
        if pk_col.endswith(f"_{suffix}"):
            stem = pk_col[: -len(suffix) - 1]
            for cand_suffix in PERIODS:
                cand = f"{stem}_{cand_suffix}"
                if cand in df.columns and cand != pk_col:
                    return df.withColumn(
                        pk_col, F.to_date(F.date_trunc(unit, F.col(cand)))
                    )
    return None


def format_df(df: DataFrame, resource: Resource) -> DataFrame:
    """Coerce df to the declared schema (ref: metadata/classes.py:2026).

    Drops extra columns, adds missing ones as typed nulls, casts types,
    snaps periodic PK columns. Never raises on missing data.
    """
    for name in resource.field_names:
        if name not in df.columns:
            snapped = _snap_period(df, name)
            if snapped is not None:
                df = snapped
    cols = []
    for f in resource.fields:
        if f.name in df.columns:
            col = F.col(f.name)
            if f.type == "year":
                # year type snaps to Jan-1 (ref: classes.py:2056-2063)
                col = F.to_date(F.date_trunc("year", col))
            cols.append(col.cast(f.spark_type).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.spark_type).alias(f.name))
    return df.select(*cols)


def check_primary_key(df: DataFrame, pk: tuple[str, ...] | list[str],
                      name: str = "df") -> None:
    """Raise on null or duplicate primary keys (ref: classes.py:2088+).

    One aggregation: the per-key counts reduce to one row of null-key
    rows and duplicate rows, so one action and nothing large collected.
    """
    pk = list(pk)
    n = F.col("count")
    null_key = F.lit(False)
    for c in pk:
        null_key = null_key | F.col(c).isNull()
    stats = df.groupBy(*pk).count().agg(
        F.sum(F.when(null_key, n)).alias("nulls"),
        F.sum(F.when(n > 1, n)).alias("dups"),
    ).collect()[0]
    if stats["nulls"]:
        raise SchemaError(f"{name}: null primary key values in {pk}")
    if stats["dups"]:
        raise SchemaError(f"{name}: {stats['dups']} duplicate PK rows on {pk}")


def conform(df: DataFrame, resource: Resource) -> DataFrame:
    """Raise on missing columns, then ``format_df``; starts no Spark
    job (the sink's pre-write half of ``enforce_schema``)."""
    missing = set(resource.field_names) - set(df.columns)
    missing = {
        m for m in missing
        if not (m in resource.primary_key and _snap_period(df, m) is not None)
    }
    if missing:
        raise SchemaError(f"{resource.name}: missing columns {sorted(missing)}")
    return format_df(df, resource)


def enforce_schema(df: DataFrame, resource: Resource) -> DataFrame:
    """format_df + strict checks (ref: metadata/classes.py:2088-2127)."""
    out = conform(df, resource)
    if resource.primary_key:
        check_primary_key(out, resource.primary_key, resource.name)
    return out


def fk_orphan_rows(child: DataFrame, child_cols: list[str],
                   parent: DataFrame, parent_cols: list[str]) -> DataFrame:
    """Child rows with a fully non-null key that no parent row holds
    (ref: helpers.py:193). The parent side is deduplicated to its key
    columns and broadcast, which suits dimension-table parents.
    """
    parent_keys = parent.select(
        *[F.col(p).alias(c) for c, p in zip(child_cols, parent_cols)]
    ).dropDuplicates()
    pred = None
    for c in child_cols:
        cond = F.col(c).isNotNull()
        pred = cond if pred is None else (pred & cond)
    return child.filter(pred).join(
        F.broadcast(parent_keys), on=child_cols, how="left_anti"
    )


def check_foreign_key(child: DataFrame, child_cols: list[str],
                      parent: DataFrame, parent_cols: list[str]) -> int:
    """Count FK orphan rows (0 == integrity holds); the frame form is
    `validate.check_foreign_key_df`."""
    return fk_orphan_rows(child, child_cols, parent, parent_cols).count()


def encode_column(df: DataFrame, col: str, code_map: dict[str, str],
                  strict: bool = True) -> DataFrame:
    """Canonical-code mapping (ref: Encoder.encode classes.py:558-578).

    ``code_map`` maps dirty code -> canonical code; canonical codes map
    to themselves implicitly. Unknown codes raise when strict (via a
    tiny violation count), else become NULL.
    """
    full = dict(code_map)
    for v in set(code_map.values()):
        full.setdefault(v, v)
    mapping = F.create_map(*[F.lit(x) for kv in full.items() for x in kv])
    encoded = mapping[F.col(col)]
    if strict:
        bad = df.filter(F.col(col).isNotNull() & encoded.isNull())
        n = bad.limit(20).count()
        if n:
            sample = [r[0] for r in bad.select(col).distinct().limit(5).collect()]
            raise SchemaError(f"unknown codes in {col}: {sample}")
    return df.withColumn(col, encoded)
