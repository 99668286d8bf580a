"""Differential evidence for the queries registered this round: the
same plain-session-vs-DuckDB comparison tools/driver_sim.py runs,
executed at sf0.01 in-suite, so registration never waits on the
driver's end-of-round sweep to learn a new query diverges."""

from __future__ import annotations

import duckdb
import pytest

from tools.driver_sim import compare

SF = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.mark.parametrize("name", ["doc_lsh_store_ingest",
                                  "doc_weighted_sample"])
def test_new_registered_query_matches_oracle(spark, name):
    from pudl_spark.plans.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, SF).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    odf = con.execute(ORACLES[name]).df()
    assert len(sdf) > 0
    err = compare(name, sdf, odf)
    assert err is None, err
