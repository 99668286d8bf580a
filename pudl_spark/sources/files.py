"""File sources and the Parquet sink.

Refs: GenericExtractor partition loop (src/pudl/extract/extractor.py:
129,243-288), CsvExtractor (src/pudl/extract/csv.py:16),
ParquetExtractor (src/pudl/extract/parquet.py:13), and the Parquet
sink with zstd + bounded row groups
(src/pudl/dagster/io_managers.py:379-418;
src/pudl/transform/epacems.py:279-284) plus the pre-write ordering for
storage locality (src/pudl/transform/ferc714.py:822-824).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pudl_spark.operators.sets import union_by_name
from pudl_spark.schema.model import Resource
from pudl_spark.sql import lit


def read_csv(spark: SparkSession, path: str,
             resource: Resource | None = None,
             schema: T.StructType | None = None, **options) -> DataFrame:
    """CSV source with a DECLARED schema — never inferred (§1.3).

    Schema inference would require an extra pass over the data and
    produces drifting types across partitions; the reference always
    declares (ref: extract/csv.py:16). header defaults on.
    """
    opts = {"header": "true", **{k: str(v) for k, v in options.items()}}
    reader = spark.read.options(**opts)
    if resource is not None:
        schema = resource.to_struct_type()
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def extract_partitions(spark: SparkSession, paths: list[str],
                       fmt: str = "parquet",
                       schema: T.StructType | None = None,
                       **options) -> DataFrame:
    """Partition-iterated extraction -> one table (ref: extractor.py:
    243-288 concat_pages). Per-partition files may disagree on column
    sets across years; unionByName(allowMissingColumns) reconciles
    exactly like the reference's concat. With identical schemas Spark
    reads the whole glob as ONE distributed scan (no driver loop).
    """
    if not paths:
        raise ValueError("extract_partitions: no input paths")
    reader = spark.read.options(**{k: str(v) for k, v in options.items()})
    if schema is not None:
        reader = reader.schema(schema)
    load = getattr(reader, fmt)
    dfs = [load(p) for p in paths]
    cols = {tuple(df.columns) for df in dfs}
    if len(cols) == 1 and schema is None and fmt == "parquet":
        # Same layout: one multi-path scan beats N unions.
        return spark.read.parquet(*paths)
    return union_by_name(dfs)


def _write_columnar(df: DataFrame, path: str, fmt: str,
                    partition_cols: list[str] | None,
                    sort_cols: list[str] | None,
                    max_records_per_file: int,
                    compression: str, mode: str) -> None:
    """Shared columnar-sink layout contract: optional hive
    partitioning, pre-write clustering by sort_cols (row-group /
    stripe statistics stay tight without a global sort), and a
    max-records-per-file cap so a large partition never lands as one
    giant file per task.
    """
    out = df
    if sort_cols:
        if partition_cols:
            # One output file set per hive partition instead of
            # (tasks x partitions) fragments.
            out = out.repartition(*partition_cols)
        out = out.sortWithinPartitions(*sort_cols)
    writer = (out.write.mode(mode)
              .option("compression", compression)
              .option("maxRecordsPerFile", max_records_per_file))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    getattr(writer, fmt)(path)


def write_parquet_table(df: DataFrame, path: str,
                        partition_cols: list[str] | None = None,
                        sort_cols: list[str] | None = None,
                        max_records_per_file: int = 1_000_000,
                        compression: str = "zstd",
                        mode: str = "overwrite") -> None:
    """Parquet sink (ref: io_managers.py:379-418): zstd compression,
    optional hive partitioning, and pre-write clustering by sort_cols
    for row-group skipping + compression locality (ref: ferc714.py:
    822-824). At 100 TB the partition column choice IS the read-path
    partition pruning; sortWithinPartitions keeps min/max statistics
    tight without a global sort.
    """
    _write_columnar(df, path, "parquet", partition_cols, sort_cols,
                    max_records_per_file, compression, mode)


def write_orc_table(df: DataFrame, path: str,
                    partition_cols: list[str] | None = None,
                    sort_cols: list[str] | None = None,
                    max_records_per_file: int = 1_000_000,
                    compression: str = "zstd",
                    mode: str = "overwrite") -> None:
    """ORC sink — the SAME layout contract as ``write_parquet_table``
    (one shared ``_write_columnar`` implementation, including the
    max-records-per-file cap), on Spark's second native columnar
    format. ORC's built-in min/max/bloom stripe indexes give the
    sort_cols clustering the role parquet row-group stats play;
    partition pruning and predicate pushdown ride the identical
    DataSource V2 path. Interop surface for warehouses (Hive/Trino)
    standardized on ORC.
    """
    _write_columnar(df, path, "orc", partition_cols, sort_cols,
                    max_records_per_file, compression, mode)


def read_fixed_width(spark: SparkSession, path: str,
                     colspecs: list[tuple[str, int, int, str]],
                     ) -> DataFrame:
    """Fixed-width text reader — the mainframe/legacy-feed format
    (each column a declared (name, 1-based start, length, type)
    slice of the line). One spark.read.text scan + per-column
    substring/trim/cast, all in codegen: map-only, splittable by
    line, no Python in the loop. Blank slices become NULL before the
    cast so ANSI mode never throws on empty numerics; types are
    DECLARED, never inferred — same rule as read_csv/read_jsonl.
    """
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    cols = []
    for name, start, length, dtype in colspecs:
        raw = F.trim(F.substring(F.col("value"), start, length))
        cols.append(
            F.when(raw == "", None).otherwise(raw)
            .cast(dtype).alias(name))
    return lines.select(*cols)


def write_jsonl_table(df: DataFrame, path: str,
                      partition_cols: list[str] | None = None,
                      compression: str = "gzip",
                      mode: str = "overwrite") -> None:
    """JSON-lines sink (hive-partitionable, gzip by default) — the
    interchange format for downstream NDJSON consumers (data-loader
    pipelines, streaming ingestion replays). Text formats carry no
    statistics, so unlike parquet/ORC there is no row-group skipping:
    partition_cols is the ONLY pruning axis, which is why the sink
    insists the caller picks them deliberately rather than defaulting.
    """
    out = df.repartition(*partition_cols) if partition_cols else df
    writer = out.write.mode(mode).option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.json(path)


def read_jsonl(spark: SparkSession, path: str,
               schema: str | None = None) -> DataFrame:
    """Read a JSON-lines directory with a DECLARED schema (same rule
    as read_csv: never infer — inference costs a full extra pass and
    drifts types across partitions)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_bucketed_table(df: DataFrame, table_name: str,
                         bucket_cols: list[str], num_buckets: int,
                         sort_cols: list[str] | None = None,
                         mode: str = "overwrite",
                         path: str | None = None,
                         recover: bool = True) -> None:
    """Bucketed managed table — the shuffle-free-join layout.

    At 100 TB the dominant cost of fact-to-fact joins (orders x
    lineitem) is the shuffle. Writing both sides bucketed on the join
    key with equal bucket counts lets Spark plan a SortMergeJoin with
    NO Exchange: each task reads matching bucket files from both
    sides. The one-time write cost amortizes over every downstream
    join and aggregation on the same key (SURVEY §4 output-clustering
    row; tests/test_bucketed.py proves the Exchange disappears).

    ``path`` makes it an EXTERNAL bucketed table at that location
    (catalog entry + caller-owned files — the self-cleaning-store
    discipline for query-scoped stores) instead of a managed table
    under the warehouse dir.

    The rows hash-repartition on the bucket columns into
    ``num_buckets`` partitions first. ``repartition`` shares the
    bucket spec's pmod(Murmur3) hash, so each write task holds one
    bucket and a write emits exactly ``num_buckets`` files instead
    of one per (input partition x bucket) — pinned by the file-count
    test in tests/test_bucketed.py. The cost is a write stage of
    ``num_buckets`` tasks; ``num_buckets`` is the knob for both
    write parallelism and file size.

    ``mode="append"`` first completes any compaction publish a
    crashed process left half-swapped, so an append never lands on
    a table with missing rows; ``recover=False`` skips that check
    for callers that ran it on this table this batch already.
    """
    if mode == "append" and recover:
        spark = df.sparkSession
        if spark.catalog.tableExists(table_name):
            from pudl_spark.operators.layout import (
                recover_pending_compaction,
            )

            recover_pending_compaction(spark, table_name)
    df = df.repartition(num_buckets, *bucket_cols)
    writer = df.write.mode(mode).format("parquet") \
        .bucketBy(num_buckets, *bucket_cols)
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


_BUILD_PROP_PREFIX = "pudl_spark.build."


def set_table_build_params(spark, table_name: str,
                           params: dict) -> None:
    """Record an index/store's BUILD PARAMETERS as table properties
    (``pudl_spark.build.*``) so they travel with the catalog entry —
    the sidecar-meta discipline (VERDICT r10 #4). An append or probe
    that silently assumed different parameters than the build would
    corrupt the index (appends) or miss results (probes) with no
    error; persisting the parameters lets every later operation
    `assert_build_params_match` instead of trusting the caller to
    repeat them. Metadata-only ALTER — no Spark job, no file I/O.
    """
    kv = ", ".join(f"{lit(_BUILD_PROP_PREFIX + k)}={lit(str(v))}"
                   for k, v in sorted(params.items()))
    spark.sql(f"ALTER TABLE {table_name} SET TBLPROPERTIES ({kv})")


def get_table_build_params(spark, table_name: str) -> dict:
    """The ``pudl_spark.build.*`` properties recorded at build time,
    as a {name: string-value} dict (empty for pre-r11 / foreign
    tables). Driver-side catalog lookup — never a Spark job."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    return {r["key"][len(_BUILD_PROP_PREFIX):]: r["value"]
            for r in rows if r["key"].startswith(_BUILD_PROP_PREFIX)}


def assert_build_params_match(spark, table_name: str, caller: dict,
                              op: str) -> None:
    """Raise ValueError when the caller's parameters disagree with
    the ones the store was BUILT with. Numeric values compare as
    numbers — a store built with centroid_factor=2 (int) must accept
    the default 2.0 probe, not brick itself on '2' != '2.0' — with
    string equality as the fallback for non-numeric parameters.
    Parameters the build did not record — legacy stores predating
    the meta properties — are not checked, so old stores keep
    working while every store built by this codebase gets the hard
    guarantee."""

    def differs(stored_v: str, caller_v) -> bool:
        try:
            return float(stored_v) != float(caller_v)
        except (TypeError, ValueError):
            return stored_v != str(caller_v)

    stored = get_table_build_params(spark, table_name)
    mismatched = {k: (stored[k], str(v)) for k, v in caller.items()
                  if k in stored and differs(stored[k], v)}
    if mismatched:
        detail = "; ".join(
            f"{k}: built with {b!r}, called with {c!r}"
            for k, (b, c) in sorted(mismatched.items()))
        raise ValueError(
            f"{op}: build-parameter mismatch on {table_name} — "
            f"{detail}. Appending or probing with parameters that "
            "differ from the build silently corrupts the index / "
            "misses results; rebuild the store or pass the recorded "
            "parameters.")
