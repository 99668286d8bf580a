"""Simulate the driver's correctness gate with a PLAIN SparkSession.

The round-1 failure mode was conf drift between the builder's session
(pudl_spark.session.get_spark) and the driver's plain SparkSession.
This script runs every queries() entry at sf0.01 under a session with
NO pudl_spark confs and compares against oracle_sql() in DuckDB.
``canon`` and ``compare`` are the one oracle comparator: the tests
(tests/test_oracle_parity.py, tests/test_differential_fuzz.py,
tests/test_registered_differential.py) import them from here.

Usage: python tools/driver_sim.py [name ...]
The master is local[$SPARK_GRAFT_CPUS] (default 32), as in get_spark.
"""

from __future__ import annotations

import glob
import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column, ints as
    nullable Int64, timestamps at microseconds, objects as strings
    (None and NaN both become None)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda x: str(x) if x is not None and not (
                    isinstance(x, float) and math.isnan(x)) else None)
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="last").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """None when the frames hold the same columns and rows, else what
    differs. Floats compare exactly; NaN equals NaN, null equals null."""
    if sorted(sdf.columns) != sorted(odf.columns):
        return (f"{name}: columns {sorted(sdf.columns)} != "
                f"{sorted(odf.columns)}")
    if len(sdf) != len(odf):
        return f"{name}: rows {len(sdf)} != {len(odf)}"
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sv, ov = sv.astype(float), ov.astype(float)
        eq = (sv == ov) | (sv.isna() & ov.isna())
        if not eq.all():
            return (f"{name}.{c}: {(~eq).sum()} mismatches; "
                    f"spark={sv[~eq].head(3).tolist()} "
                    f"oracle={ov[~eq].head(3).tolist()}")
    return None


def main() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("driver_sim")
             .config("spark.driver.memory", "10g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    queries, oracles = mod.queries(), mod.oracle_sql()

    duck = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(SF_DIR, "*.parquet"))):
        t = os.path.basename(p).replace(".parquet", "")
        duck.execute(f"CREATE OR REPLACE VIEW {t} AS "
                     f"SELECT * FROM read_parquet('{p}')")

    names = sys.argv[1:] or sorted(queries)
    n_pass = n_fail = n_err = 0
    for name in names:
        try:
            sdf = queries[name](spark, SF_DIR).toPandas()
        except Exception:
            print(f"ERR  {name}\n{traceback.format_exc()}")
            n_err += 1
            continue
        if name not in oracles:
            print(f"NOOR {name} ({len(sdf)} rows)")
            continue
        try:
            odf = duck.execute(oracles[name]).df()
        except Exception:
            print(f"OERR {name}\n{traceback.format_exc()}")
            n_err += 1
            continue
        msg = compare(name, sdf, odf)
        if msg:
            print(f"FAIL {msg}")
            n_fail += 1
        else:
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_err} err "
          f"of {len(names)} checked")
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    sys.exit(main())
