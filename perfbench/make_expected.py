#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json`` from DuckDB alone.

    python3 perfbench/make_expected.py

For every query op: the fingerprint (``verify.fingerprint``) of the
registry's DuckDB oracle (``pudl_spark.plans.queries.ORACLES``) over
the workload's generated base tables. For the ETL: each asset's row
count, computed in DuckDB from the generated raw inputs (the
``etl_full_row_counts`` gate). Also records every workload's input
sizes. Spark is not started; run from the repository root.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb                                   # noqa: E402

import gen                                      # noqa: E402
import verify                                   # noqa: E402
from workloads import CACHE_DIR, ETL_ORACLES, WORKLOADS  # noqa: E402


def _connect(src: str):
    con = duckdb.connect()
    for name in gen.sizes(src):
        path = os.path.join(src, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}')")
    return con


def main() -> int:
    sys.path.insert(0, os.getcwd())
    from pudl_spark.plans.queries import ORACLES

    out = {"inputs": {}, "queries": {}, "etl": {}}
    for w in WORKLOADS.values():
        src = w.inputs(CACHE_DIR)
        out["inputs"][w.name] = gen.sizes(src)
        con = _connect(src)
        if w.kind == "queries":
            out["queries"][w.name] = {
                op: verify.duckdb_fingerprint(con, ORACLES[op])
                for op in w.ops}
            continue
        n = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
             for t in ("orders", "lineitem", "customer")}
        rows = {"core_orders": n["orders"],
                "raw_lineitem": n["lineitem"],
                "core_lineitem": n["lineitem"],
                "core_customer": n["customer"]}
        for name, sql in ETL_ORACLES.items():
            rows[name] = con.execute(
                f"SELECT count(*) FROM ({sql})").fetchone()[0]
        out["etl"]["rows"] = rows
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
