"""Table catalog: name -> path + declared schema, with pruned reads.

Mirrors the reference's interactive access path ``get_parquet_table``
(ref: src/pudl/helpers.py:2257-2323) and its lazy Polars twin
(ref: src/pudl/helpers.py:2213-2254): a column-pruned,
predicate-pushed Parquet read with schema validation. In Spark the
pruning/pushdown are native — expressing the read as
``read.parquet().select(cols).filter(pred)`` is enough for Catalyst to
push both into the scan (visible as PushedFilters / ReadSchema in
``.explain``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

from pudl_spark.sql import ident

# The driver's synthetic test tables (TESTDATA.md).
TEST_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session-lifetime SCHEMA-METADATA memo (r16, guide §1.2: per-task —
# here per-CONSTRUCTION — work): re-reading the same parquet path
# re-pays JVM schema inference (directory listing + footer read,
# ~50-90 ms of driver time) on every query construction, and the
# bench constructs each query fresh per timed run. Keyed on file
# identity (absolute path + size + mtime_ns of every part), so a
# rewritten file misses the memo and re-infers. This caches TYPING
# METADATA ONLY — the arrived Spark schema and which columns need the
# nanos/NTZ repair — never rows, aggregates, or any query result:
# every action still computes from the parquet bytes.
_SCHEMA_MEMO: dict = {}


def _parquet_identity(path: str):
    """File-identity key for the schema memo; None when the path is
    not stat-able (remote URI), which just disables memoization."""
    try:
        if os.path.isdir(path):
            parts = sorted(p for p in os.listdir(path)
                           if p.endswith(".parquet"))
            sub = []
            for p in parts:
                st = os.stat(os.path.join(path, p))
                sub.append((p, st.st_size, st.st_mtime_ns))
            return (os.path.abspath(path), tuple(sub))
        st = os.stat(path)
        return (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    except OSError:
        return None


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet + nanosecond-timestamp repair.

    With spark.sql.legacy.parquet.nanosAsLong=true (session default),
    TIMESTAMP(NANOS) parquet columns arrive as long nanoseconds; we
    restore them to TimestampType (us) here — lossless for the test
    data, and matching DuckDB's read of the same files. Column pruning
    and predicate pushdown still apply: the conversion is a projection
    Catalyst pushes the scan below.

    Repeat reads of an unchanged path supply the memoized arrived
    schema to the reader (``read.schema(s).parquet``), skipping the
    JVM's footer-inference pass; the plan and results are identical —
    a user-specified schema equal to the inferred one resolves to the
    same relation.
    """
    from pyspark.sql import functions as F

    key = _parquet_identity(path)
    memo = _SCHEMA_MEMO.get(key) if key is not None else None
    if memo is not None:
        arrived_schema, ns_cols, repair_ns, ntz_cols = memo
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong",
                           "true")
        df = spark.read.schema(arrived_schema).parquet(path)
    else:
        import pyarrow.parquet as pq

        # Detect TIMESTAMP(NANOS) columns *before* the read: a session
        # that was not built by pudl_spark.session.get_spark (e.g. a
        # verification harness's plain SparkSession) throws
        # PARQUET_TYPE_ILLEGAL on them unless the runtime-settable
        # legacy conf is on.
        try:
            first = path
            if os.path.isdir(path):
                parts = [p for p in sorted(os.listdir(path))
                         if p.endswith(".parquet")]
                first = os.path.join(path, parts[0]) if parts else path
            schema = pq.read_schema(first)
            ns_cols = [n for n in schema.names
                       if str(schema.field(n).type) == "timestamp[ns]"]
        except Exception:
            ns_cols = []
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong",
                           "true")
        df = spark.read.parquet(path)
        arrived_schema = df.schema
        # Repair only columns that actually arrived as long
        # nanoseconds: pyarrow also reports INT96 (Spark's own default
        # parquet timestamp encoding) as timestamp[ns], but Spark
        # reads INT96 as a proper TIMESTAMP — applying the div-1000
        # repair there would be a type error on perfectly good
        # Spark-written files.
        from pyspark.sql.types import LongType, TimestampNTZType
        arrived_long = {f.name for f in arrived_schema.fields
                        if isinstance(f.dataType, LongType)}
        repair_ns = [c for c in ns_cols if c in arrived_long]
        # tz-naive parquet timestamps (isAdjustedToUTC=false) arrive
        # as TIMESTAMP_NTZ under inferTimestampNTZ (default on). The
        # engine's operators and DuckDB oracles are written against
        # TimestampType; casting NTZ->LTZ interprets the wall clock in
        # the session tz and toPandas inverts with the same tz, so
        # oracle parity holds under any harness session. The cast is a
        # projection Catalyst keeps above the scan without disturbing
        # pruning/pushdown.
        ntz_cols = [f_.name for f_ in arrived_schema.fields
                    if isinstance(f_.dataType, TimestampNTZType)]
        if key is not None:
            _SCHEMA_MEMO[key] = (arrived_schema, ns_cols, repair_ns,
                                 ntz_cols)
    # One batched withColumns (a single py4j round trip) instead of a
    # withColumn per repaired column.
    updates = {c: F.timestamp_micros(F.expr(f"{ident(c)} div 1000"))
               for c in repair_ns}
    updates.update({c: F.col(c).cast("timestamp") for c in ntz_cols})
    if updates:
        df = df.withColumns(updates)
    return df


@dataclass
class Catalog:
    """Maps table names to parquet paths; registers temp views on demand."""

    root: str = DEFAULT_SF_DIR
    tables: dict[str, str] = field(default_factory=dict)

    def path(self, name: str) -> str:
        if name in self.tables:
            return self.tables[name]
        return os.path.join(self.root, f"{name}.parquet")

    def register(self, name: str, path: str) -> None:
        self.tables[name] = path

    def read(self, spark: SparkSession, name: str,
             columns: list[str] | None = None,
             predicate: Column | str | None = None) -> DataFrame:
        """Column-pruned, predicate-pushed read (ref helpers.py:2257)."""
        df = read_parquet_table(spark, self.path(name))
        if predicate is not None:
            df = df.filter(predicate)
        if columns is not None:
            missing = set(columns) - set(df.columns)
            if missing:
                raise KeyError(f"{name}: unknown columns {sorted(missing)}")
            df = df.select(*columns)
        return df

    def register_all_views(self, spark: SparkSession,
                           names: tuple[str, ...] = TEST_TABLES) -> None:
        """Register every table as a temp view so spark.sql works over it."""
        for name in names:
            p = self.path(name)
            if os.path.exists(p):
                read_parquet_table(spark, p).createOrReplaceTempView(name)


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TEST_TABLES) -> dict[str, DataFrame]:
    """Convenience loader for the driver's synthetic tables."""
    cat = Catalog(root=sf_dir)
    return {n: cat.read(spark, n) for n in names
            if os.path.exists(cat.path(n))}


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the scan partition count from LOCAL file metadata —
    Spark's FilePartitions arithmetic (maxSplitBytes = min(
    maxPartitionBytes, max(openCostInBytes, bytes-per-core)) over the
    open-cost-padded total) without building the physical RDD.
    ``df.rdd.getNumPartitions()`` answers the same question but pays
    physical planning plus the Python-RDD wrap (~40-60 ms per call,
    measured r16) — pure driver overhead for a number that only
    gates a repartition DECISION. Returns None (caller falls back to
    the exact probe) for non-local or unreadable inputs.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        p = f
        if p.startswith("file:"):
            from urllib.parse import unquote, urlparse
            p = unquote(urlparse(f).path)
        elif "://" in p:
            return None
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            return None
    conf = df.sparkSession.conf
    try:
        open_cost = int(conf.get("spark.sql.files.openCostInBytes",
                                 "4194304"))
        max_pb = int(conf.get("spark.sql.files.maxPartitionBytes",
                              "134217728"))
    except (TypeError, ValueError):
        return None
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost,
                                (total + parallelism - 1)
                                // parallelism))
    return max(1, (total + max_split - 1) // max_split)


def spread_small_input(df: DataFrame, key: str) -> DataFrame:
    """Repartition a small-file input across all cores before a
    CPU-bound map stage. A few-MB parquet arrives as ONE partition
    under maxPartitionBytes, serializing per-row-expensive expression
    work (hashing, higher-order array functions) on a single core; at
    real scale the files split naturally and this is a no-op.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    n = est if est is not None else df.rdd.getNumPartitions()
    if n < parallelism:
        return df.repartition(parallelism, key)
    return df


def scan_stats(spark: SparkSession, path: str,
               cols: list[str]) -> dict:
    """min/max/count for ``cols`` answered from parquet FOOTER
    statistics only: with aggregate pushdown on the V2 parquet scan,
    the executed plan carries PushedAggregation and the job reads
    row-group metadata, not data pages — at 100 TB, table-level
    extrema cost one metadata pass instead of a full scan. Confs are
    scoped and restored (the V1-source list is session-global).
    """
    from pyspark.sql import functions as F

    apd = "spark.sql.parquet.aggregatePushdown"
    v1l = "spark.sql.sources.useV1SourceList"
    old_apd = spark.conf.get(apd, "false")
    old_v1 = spark.conf.get(v1l)
    try:
        spark.conf.set(apd, "true")
        spark.conf.set(v1l, "")
        df = spark.read.parquet(path)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs += [F.min(c).alias(f"min_{c}"),
                     F.max(c).alias(f"max_{c}")]
        out = df.agg(*aggs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        row = out.collect()[0]
        return {"pushed": "PushedAggregation" in plan,
                **row.asDict()}
    finally:
        spark.conf.set(apd, old_apd)
        spark.conf.set(v1l, old_v1)
