"""SparkSession factory.

The reference pipeline (PUDL) hand-manages memory via Dagster op tags
(``memory-use: high``) and Polars streaming sinks
(ref: src/pudl/transform/epacems.py:253,279-284). On Spark all of that
collapses into session-level configuration: AQE for runtime re-planning
and skew handling, sensible shuffle partitioning, zstd Parquet (the
reference's compression choice), and Arrow for the pandas-UDF islands.

Designed for a 1000-executor cluster; tests run on local[N].
"""

from __future__ import annotations

import os

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness. On a real cluster the
# shuffle-partition count should track total cores (AQE coalesces the
# excess), and maxPartitionBytes keeps scan tasks ~128MB so a 100 TB
# input fans out to ~800k tasks rather than a handful of huge ones.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    # Synthetic test tables carry TIMESTAMP(NANOS) parquet columns,
    # which Spark's vectorized reader rejects; read them as long ns
    # and convert at the catalog layer (lossless: data is us-precision).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "pudl_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a real deployment the master comes from
    spark-submit and this argument is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    # Python workers import pudl_spark (UDFs pickle by reference),
    # whatever directory the application was launched from.
    key = "spark.executorEnv.PYTHONPATH"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf[key] = os.pathsep.join(p for p in (root, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def inherit_context(spark: SparkSession, fn):
    """``pyspark.inheritable_thread_target(spark)(fn)``, which fails
    when pinned-thread mode is off; then there is nothing to inherit."""
    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)
