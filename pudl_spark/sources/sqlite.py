"""SQLite sink and read-back (S11/S12).

Ref: SqliteIOManager/PudlSqliteIOManager write a typed SQLite copy of a
subset of outputs with CHECK constraints (src/pudl/dagster/
io_managers.py:154,432); FercXbrlSqliteIOManager.load_input reads back
with a report-year partition filter (:724-785).

The reference's SQLite surface is single-node by construction (SQLite
is a single-file engine), so the Spark-first mapping is deliberately a
DRIVER-side boundary exactly like the reference's: the distributed
sink is Parquet (S10, sources/files.py); SQLite is the small
"interchange subset" copy. Rows stream through
``toLocalIterator`` (one partition in driver memory at a time, never
the whole table), and on a real cluster the same API would be backed
by ``df.write.jdbc`` — the schema/DDL generation here is shared.
"""

from __future__ import annotations

import datetime as _dt
import os
import sqlite3
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from pudl_spark.schema.model import Field, Resource

_SQLITE_TYPE = {
    "string": "TEXT",
    "integer": "INTEGER",
    "number": "REAL",
    "boolean": "INTEGER",
    "date": "TEXT",
    "datetime": "TEXT",
    "year": "TEXT",
    "geometry": "BLOB",
}


def _column_ddl(f: Field) -> str:
    """One column clause with CHECK constraints mirroring
    FieldConstraints (ref: io_managers.py:154 builds sqlalchemy CHECKs
    from the same metadata).
    """
    parts = [f'"{f.name}" {_SQLITE_TYPE[f.type]}']
    c = f.constraints
    if c.required:
        parts.append("NOT NULL")
    checks = []
    if c.minimum is not None:
        checks.append(f'"{f.name}" >= {c.minimum}')
    if c.maximum is not None:
        checks.append(f'"{f.name}" <= {c.maximum}')
    if c.enum:
        # SQLite has no backslash escapes, so Spark's sql.lit is wrong here.
        vals = ", ".join("'" + v.replace("'", "''") + "'" for v in c.enum)
        checks.append(f'"{f.name}" IN ({vals})')
    if f.type == "boolean":
        checks.append(f'"{f.name}" IN (0, 1)')
    for chk in checks:
        parts.append(f'CHECK ("{f.name}" IS NULL OR {chk})')
    return " ".join(parts)


def create_table_ddl(resource: Resource) -> str:
    """Typed CREATE TABLE with PK + CHECK constraints."""
    cols = [_column_ddl(f) for f in resource.fields]
    if resource.primary_key:
        pk = ", ".join(f'"{c}"' for c in resource.primary_key)
        cols.append(f"PRIMARY KEY ({pk})")
    return (f'CREATE TABLE "{resource.name}" (\n  '
            + ",\n  ".join(cols) + "\n)")


def _to_sqlite_value(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def write_sqlite_table(df: DataFrame, db_path: str, resource: Resource,
                       if_exists: str = "replace",
                       batch_size: int = 10_000) -> int:
    """Enforce the resource column order, then stream rows into a
    typed SQLite table. Returns the row count written. CHECK/PK
    violations raise ``sqlite3.IntegrityError`` — the strict-failure
    semantics of the reference sink.
    """
    out = df.select(*resource.field_names)
    con = sqlite3.connect(db_path)
    try:
        if if_exists == "replace":
            con.execute(f'DROP TABLE IF EXISTS "{resource.name}"')
        exists = con.execute(
            "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?",
            (resource.name,)).fetchone()
        if not exists:
            con.execute(create_table_ddl(resource))
        placeholders = ", ".join("?" for _ in resource.fields)
        ins = (f'INSERT INTO "{resource.name}" VALUES ({placeholders})')
        n = 0
        batch: list[tuple] = []
        for row in out.toLocalIterator():
            batch.append(tuple(_to_sqlite_value(v) for v in row))
            if len(batch) >= batch_size:
                con.executemany(ins, batch)
                n += len(batch)
                batch.clear()
        if batch:
            con.executemany(ins, batch)
            n += len(batch)
        con.commit()
        return n
    finally:
        con.close()


def read_sqlite_table(spark: SparkSession, db_path: str, resource: Resource,
                      years: Iterable[int] | None = None,
                      year_col: str = "report_year") -> DataFrame:
    """Read a table back with an optional year-partition filter
    (ref: refine_report_year + load_input io_managers.py:724-785).
    The filter runs inside SQLite (predicate pushdown at the source),
    and the result carries the DECLARED Spark schema — dates and
    timestamps are parsed back from their ISO text forms.
    """
    if not os.path.exists(db_path):
        raise FileNotFoundError(db_path)
    cols = ", ".join(f'"{c}"' for c in resource.field_names)
    sql = f'SELECT {cols} FROM "{resource.name}"'
    params: tuple = ()
    if years is not None:
        yrs = list(years)
        sql += (f' WHERE CAST(strftime(\'%Y\', "{year_col}") AS INTEGER)'
                f" IN ({', '.join('?' for _ in yrs)})")
        params = tuple(yrs)
    con = sqlite3.connect(db_path)
    try:
        rows = con.execute(sql, params).fetchall()
    finally:
        con.close()

    def _parse(f: Field, v):
        if v is None:
            return None
        if f.type in ("date", "year"):
            return _dt.date.fromisoformat(v)
        if f.type == "datetime":
            return _dt.datetime.fromisoformat(v)
        if f.type == "boolean":
            return bool(v)
        if f.type == "number":
            return float(v)
        return v

    fields = list(resource.fields)
    data = [tuple(_parse(f, v) for f, v in zip(fields, r)) for r in rows]
    return spark.createDataFrame(data, schema=resource.to_struct_type())
