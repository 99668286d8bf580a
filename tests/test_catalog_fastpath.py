"""Focused tests for the r16 driver-side construction fast paths:
the schema-metadata memo in ``read_parquet_table`` and the estimated
scan-partition probe behind ``spread_small_input``. The parsed IN list
is pinned in tests/test_sql.py.
"""

import os
import time

from pudl_spark import catalog
from pudl_spark.catalog import (
    _estimated_scan_partitions, read_parquet_table,
    spread_small_input,
)

from tests.conftest import SF_DIR


def test_schema_memo_hit_is_identical(spark):
    """Memoized (schema-supplied) reads must return the same schema
    and rows as the inference read — the memo caches typing metadata
    only, never data."""
    path = os.path.join(SF_DIR, "events.parquet")
    key = catalog._parquet_identity(path)
    catalog._SCHEMA_MEMO.pop(key, None)
    d1 = read_parquet_table(spark, path)          # inference (miss)
    assert key in catalog._SCHEMA_MEMO
    d2 = read_parquet_table(spark, path)          # memo hit
    assert d1.schema == d2.schema
    # events carries the TIMESTAMP(NANOS) column the repair targets —
    # both paths must deliver TimestampType and equal values.
    assert dict(d1.dtypes)["ts"] == "timestamp"
    a = d1.orderBy("event_id").limit(50).collect()
    b = d2.orderBy("event_id").limit(50).collect()
    assert a == b


def test_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    """A rewritten file (different size/mtime) must miss the memo and
    re-infer — a stale schema would misread the new file."""
    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id", "id * 2 AS x") \
        .write.mode("overwrite").parquet(p)
    assert read_parquet_table(spark, p).columns == ["id", "x"]
    time.sleep(0.01)
    spark.range(3).selectExpr("id", "string(id) AS y") \
        .write.mode("overwrite").parquet(p)
    assert "y" in read_parquet_table(spark, p).columns


def test_estimated_scan_partitions_matches_decision(spark):
    """The metadata estimate and the exact RDD probe must agree on
    the only thing spread_small_input uses them for: whether the scan
    is narrower than the core count."""
    par = spark.sparkContext.defaultParallelism
    for tbl in ("nation", "events", "lineitem"):
        df = read_parquet_table(spark, os.path.join(
            SF_DIR, f"{tbl}.parquet"))
        est = _estimated_scan_partitions(df)
        act = df.rdd.getNumPartitions()
        assert est is not None
        assert (est < par) == (act < par), (tbl, est, act)
    # And the spread itself still fans a small input out.
    d = read_parquet_table(spark, os.path.join(SF_DIR, "nation.parquet"))
    assert spread_small_input(d, "n_nationkey") \
        .rdd.getNumPartitions() >= min(par, 2)
