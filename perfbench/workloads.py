"""The benchmark's workloads: query mixes and a PUDL-shaped ETL DAG.

``analytics`` and ``curation`` are lists of registry queries
(``pudl_spark.plans.queries.QUERIES``) over the fixed-seed base tables;
``etl`` is a raw -> core -> out asset DAG built here on the repository's
public ``AssetGraph``, ``operators``, ``schema`` and ``validate`` APIs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import gen

# Inputs, scratch stores and Spark/temp dirs live under the checkout.
CACHE_DIR = os.path.join(".perfbench", "cache")
WORK_DIR = os.path.join(".perfbench", "work")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                   # "queries" or "etl"
    sf: float = 0.1
    ops: tuple[str, ...] = ()

    def inputs(self, cache: str) -> str:
        return gen.base(cache, self.sf)


WORKLOADS = {w.name: w for w in (
    # Catalyst / shuffle / plan building: a scan with decimal
    # aggregation, a multi-way join tree and a large-volume semi-join
    # with its shuffle. No eager jobs, no Python islands, no writes.
    Workload("analytics", "queries", 0.1, (
        "pricing_summary", "market_share_by_year",
        "large_volume_customers")),
    # Eager construction work (an IVF store build + append + probe,
    # with its store writes) and an Arrow island (baseline-JPEG
    # encode/decode).
    Workload("curation", "queries", 0.02, (
        "ivf_store_append", "media_jpeg_features")),
    # The only writer: raw -> core -> out with schema enforcement,
    # checks, sorted and hive-partitioned zstd sinks, then a
    # one-asset-change incremental rebuild.
    Workload("etl", "etl", 0.02),
)}


# --------------------------------------------------------------------
# ETL: raw -> core -> out over the generated base tables.
# --------------------------------------------------------------------

CORE_ASSETS = ("core_orders", "core_lineitem", "core_customer")


def etl_graph(src: str, hooks):
    """Build the ETL ``AssetGraph`` reading raw inputs from ``src``.

    ``hooks.asset(name)`` is entered around each asset function and
    ``hooks.check(name)`` around each check callable, so the runner can
    count builds and, when tracing, label Spark jobs.
    """
    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.operators import normalize_strings, rename_columns
    from pudl_spark.plans.pipeline import AssetGraph
    from pudl_spark.schema.model import Field, FieldConstraints, Resource
    from pudl_spark import validate

    g = AssetGraph()
    req = FieldConstraints(required=True)

    def signature(table):
        path = os.path.join(src, f"{table}.parquet")
        return lambda: f"{os.path.getsize(path)}"

    def asset(name, deps=(), **kw):
        def deco(fn):
            def wrapped(spark, inputs):
                with hooks.asset(name):
                    return fn(spark, inputs)
            return g.add(name, deps=deps, **kw)(wrapped)
        return deco

    def check(name, fn):
        def wrapped(df):
            with hooks.check(name):
                return fn(df)
        return wrapped

    def read(spark, table):
        return read_parquet_table(spark, os.path.join(src,
                                                      f"{table}.parquet"))

    @asset("raw_lineitem", group="raw",
           inputs_signature=signature("lineitem"))
    def raw_lineitem(spark, _):
        return rename_columns(read(spark, "lineitem"), {
            "l_orderkey": "order_id", "l_partkey": "part_id",
            "l_suppkey": "supplier_id", "l_linenumber": "line_number",
            "l_quantity": "quantity", "l_extendedprice": "extended_price",
            "l_discount": "discount", "l_tax": "tax",
            "l_returnflag": "return_flag", "l_linestatus": "line_status",
            "l_shipdate": "ship_date"})

    orders_res = Resource("core_orders", (
        Field("order_id", "integer", req), Field("customer_id", "integer", req),
        Field("order_date", "date", req), Field("order_status", "string"),
        Field("priority", "string"), Field("total_price", "number")),
        primary_key=("order_id",))
    lineitem_res = Resource("core_lineitem", (
        Field("order_id", "integer", req), Field("line_number", "integer", req),
        Field("part_id", "integer"), Field("supplier_id", "integer"),
        Field("quantity", "integer"), Field("price_cents", "integer"),
        Field("discount_pct", "integer"), Field("revenue_ccents", "integer"),
        Field("return_flag", "string"), Field("ship_date", "date")),
        primary_key=("order_id", "line_number"))
    customer_res = Resource("core_customer", (
        Field("customer_id", "integer", req), Field("name", "string"),
        Field("nation", "string"), Field("segment", "string"),
        Field("account_balance", "number")),
        primary_key=("customer_id",))

    @asset("core_orders", resource=orders_res, sort_cols=("order_date",),
           inputs_signature=signature("orders"))
    def core_orders(spark, _):
        o = rename_columns(read(spark, "orders"), {
            "o_orderkey": "order_id", "o_custkey": "customer_id",
            "o_orderstatus": "order_status", "o_totalprice": "total_price",
            "o_orderdate": "order_date", "o_orderpriority": "priority"})
        o = normalize_strings(o, ["priority"])
        return o.withColumn("order_date", F.to_date("order_date"))

    @asset("core_lineitem", deps=("raw_lineitem",), resource=lineitem_res,
           sort_cols=("order_id", "line_number"))
    def core_lineitem(spark, inputs):
        li = inputs["raw_lineitem"]
        price = F.round(F.col("extended_price") * 100).cast("bigint")
        disc = F.round(F.col("discount") * 100).cast("bigint")
        return li.select(
            "order_id", "line_number", "part_id", "supplier_id",
            F.col("quantity").cast("bigint").alias("quantity"),
            price.alias("price_cents"), disc.alias("discount_pct"),
            (price * (F.lit(100) - disc)).alias("revenue_ccents"),
            "return_flag", F.to_date("ship_date").alias("ship_date"))

    @asset("core_customer", resource=customer_res,
           inputs_signature=signature("customer"),
           checks=(check("core_customer", lambda d:
               validate.check_columns_not_all_null(d, "core_customer")),))
    def core_customer(spark, _):
        c = read(spark, "customer")
        n = read(spark, "nation").select(
            F.col("n_nationkey").alias("c_nationkey"),
            F.col("n_name").alias("nation"))
        c = rename_columns(c.join(F.broadcast(n), "c_nationkey"), {
            "c_custkey": "customer_id", "c_name": "name",
            "c_acctbal": "account_balance", "c_mktsegment": "segment"})
        return normalize_strings(c, ["segment"])

    @asset("out_nation_monthly_revenue", group="out",
           deps=("core_lineitem", "core_orders", "core_customer"),
           partition_cols=("order_year",), checks=(check(
               "out_nation_monthly_revenue", lambda d:
               validate.check_one_value_per_key(
                   d.withColumn("k", F.concat_ws(
                       "|", "nation", "order_year", "order_month")),
                   "k", "revenue_ccents")),))
    def out_nation_monthly_revenue(spark, inputs):
        li, o, c = (inputs["core_lineitem"], inputs["core_orders"],
                    inputs["core_customer"])
        j = (li.join(o.select("order_id", "customer_id", "order_date"),
                     "order_id")
             .join(c.select("customer_id", "nation"), "customer_id"))
        return (j.groupBy("nation",
                          F.year("order_date").alias("order_year"),
                          F.month("order_date").alias("order_month"))
                .agg(F.count("*").alias("lines"),
                     F.sum("quantity").alias("quantity"),
                     F.sum("revenue_ccents").alias("revenue_ccents")))

    return g


# DuckDB recomputation of the out layer straight from the raw inputs
# (tables registered as views named after the input files).
ETL_ORACLES = {
    "out_nation_monthly_revenue": """
        WITH li AS (
          SELECT l_orderkey AS order_id, CAST(l_quantity AS BIGINT) AS q,
                 CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev
          FROM lineitem)
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
               CAST(month(o.o_orderdate) AS INTEGER) AS order_month,
               count(*) AS lines, sum(q) AS quantity,
               sum(rev) AS revenue_ccents
        FROM li JOIN orders o ON o.o_orderkey = li.order_id
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY ALL""",
}


def downstream_cone(graph, root: str) -> set[str]:
    """``root`` and every asset that depends on it, transitively."""
    cone, grew = {root}, True
    while grew:
        grew = False
        for name, a in graph.assets.items():
            if name not in cone and cone & set(a.deps):
                cone.add(name)
                grew = True
    return cone
