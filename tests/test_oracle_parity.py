"""Local mirror of the driver's DuckDB differential check.

Runs every queries() entry on Spark at sf0.01 and its oracle_sql() in
DuckDB over the same parquet, then compares row count, column names and
values with `tools/driver_sim.compare` (exact for ints/strings/
timestamps; exact bitwise for floats — the whole point of the
decimal-routing discipline in plans/queries.py).
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

from pudl_spark.plans.queries import ORACLES, QUERIES
from tools.driver_sim import compare

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                               "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(ORACLE_SF_DIR, "*.parquet"))):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{p}')")
    return con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(name, spark, duck):
    sdf = QUERIES[name](spark, ORACLE_SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).df()
    err = compare(name, sdf, odf)
    assert err is None, err
