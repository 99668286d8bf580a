"""Asset-DAG pipeline: topological materialization, schema
enforcement at the sink, checkpointed layer boundaries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pudl_spark.plans.pipeline import AssetGraph
from pudl_spark.schema import Field, FieldConstraints, Resource
from pudl_spark.schema.enforce import SchemaError

SF_DIR = "/root/testdata/sf0.001"

HOURLY_RES = Resource(
    name="out_hourly_counts",
    fields=(
        Field("event_type", "string", FieldConstraints(required=True)),
        Field("hour", "datetime"),
        Field("n_events", "integer"),
    ),
    primary_key=("event_type", "hour"),
)


def build_graph() -> AssetGraph:
    g = AssetGraph()

    @g.add("raw_events", group="raw")
    def raw_events(spark, inputs):
        from pudl_spark.catalog import read_parquet_table
        return read_parquet_table(spark, f"{SF_DIR}/events.parquet")

    @g.add("core_events", deps=("raw_events",))
    def core_events(spark, inputs):
        return (inputs["raw_events"]
                .filter(F.col("event_type").isNotNull())
                .withColumn("hour", F.date_trunc("hour", "ts")))

    @g.add("out_hourly_counts", deps=("core_events",),
           resource=HOURLY_RES, sort_cols=("event_type", "hour"),
           group="out")
    def out_hourly(spark, inputs):
        return (inputs["core_events"]
                .groupBy("event_type", "hour")
                .agg(F.count(F.lit(1)).alias("n_events")))

    return g


def test_materialize_dag(spark, tmp_path):
    g = build_graph()
    assert g.order() == ["raw_events", "core_events", "out_hourly_counts"]
    paths = g.materialize(spark, str(tmp_path))
    for p in paths.values():
        assert os.path.exists(p)
    out = spark.read.parquet(paths["out_hourly_counts"])
    assert out.columns == ["event_type", "hour", "n_events"]
    raw_n = spark.read.parquet(paths["raw_events"]).count()
    assert out.agg(F.sum("n_events")).collect()[0][0] == raw_n


def test_selection_materializes_upstream_closure(spark, tmp_path):
    g = build_graph()
    assert g.order(["core_events"]) == ["raw_events", "core_events"]
    paths = g.materialize(spark, str(tmp_path), selection=["core_events"])
    assert set(paths) == {"raw_events", "core_events"}


def test_schema_enforced_at_sink(spark, tmp_path):
    g = AssetGraph()

    @g.add("bad", resource=HOURLY_RES)
    def bad(spark_, inputs):
        # duplicate PK rows must be rejected at the sink boundary
        return spark_.createDataFrame(
            [("click", "2024-01-01 00:00:00", 1),
             ("click", "2024-01-01 00:00:00", 2)],
            "event_type string, hour string, n_events int",
        ).withColumn("hour", F.to_timestamp("hour"))

    with pytest.raises(SchemaError, match="duplicate"):
        g.materialize(spark, str(tmp_path))


def test_incremental_materialization_skips_fresh_assets(spark, tmp_path):
    calls = []

    def build(v_up="1", v_down="1"):
        g = AssetGraph()

        @g.add("up", version=v_up)
        def up(spark_, inputs):
            calls.append("up")
            return spark_.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])

        @g.add("down", deps=("up",), version=v_down)
        def down(spark_, inputs):
            calls.append("down")
            return inputs["up"].withColumn("n", F.lit(1))

        return g

    store = str(tmp_path)
    build().materialize(spark, store, incremental=True)
    assert calls == ["up", "down"]

    # unchanged versions: nothing recomputes
    build().materialize(spark, store, incremental=True)
    assert calls == ["up", "down"]

    # bumping only the downstream version recomputes only downstream
    build(v_down="2").materialize(spark, store, incremental=True)
    assert calls == ["up", "down", "down"]

    # bumping upstream invalidates the whole downstream cone
    build(v_up="2", v_down="2").materialize(spark, store, incremental=True)
    assert calls == ["up", "down", "down", "up", "down"]


def test_incremental_inputs_signature_invalidates(spark, tmp_path):
    calls = []
    sig = {"v": "s1"}

    def build():
        g = AssetGraph()

        @g.add("src", inputs_signature=lambda: sig["v"])
        def src(spark_, inputs):
            calls.append("src")
            return spark_.createDataFrame([(1,)], ["k"])

        return g

    store = str(tmp_path)
    build().materialize(spark, store, incremental=True)
    build().materialize(spark, store, incremental=True)
    assert calls == ["src"]
    sig["v"] = "s2"  # external data changed
    build().materialize(spark, store, incremental=True)
    assert calls == ["src", "src"]


def test_parallel_materialization_runs_independent_assets_together(
        spark, tmp_path):
    """max_workers>1: the two middle diamond assets must be IN FLIGHT
    at the same time — each waits on a shared barrier the other must
    reach, which deadlocks (times out) under serial execution."""
    import threading

    from pudl_spark.plans.pipeline import AssetGraph

    barrier = threading.Barrier(2, timeout=30)
    g = AssetGraph()

    @g.add("src")
    def src(sp, inputs):
        return sp.range(10).withColumnRenamed("id", "k")

    @g.add("mid_a", deps=("src",))
    def mid_a(sp, inputs):
        barrier.wait()
        return inputs["src"].withColumn("side", F.lit("a"))

    @g.add("mid_b", deps=("src",))
    def mid_b(sp, inputs):
        barrier.wait()
        return inputs["src"].withColumn("side", F.lit("b"))

    @g.add("out", deps=("mid_a", "mid_b"))
    def out(sp, inputs):
        return inputs["mid_a"].unionByName(inputs["mid_b"])

    store = str(tmp_path / "par")
    paths = g.materialize(spark, store, max_workers=2)
    got = spark.read.parquet(paths["out"])
    assert got.count() == 20
    assert sorted(r["side"] for r in got.select("side")
                  .distinct().collect()) == ["a", "b"]


def test_parallel_materialization_propagates_failures(spark, tmp_path):
    import pytest

    from pudl_spark.plans.pipeline import AssetGraph

    g = AssetGraph()

    @g.add("ok")
    def ok(sp, inputs):
        return sp.range(3)

    @g.add("boom")
    def boom(sp, inputs):
        raise RuntimeError("asset exploded")

    with pytest.raises(RuntimeError, match="asset exploded"):
        g.materialize(spark, str(tmp_path / "fail"), max_workers=2)


def _jobs_in_group(spark, group, run) -> set[int]:
    """Run ``run()`` under job group ``group``; return the group's job
    ids. ``materialize`` submits every job from its pool threads, so a
    non-empty result shows that they inherited the group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_null_key_asset_raises_stays_out_of_manifest_and_is_retried(
        spark, tmp_path):
    import json

    calls = []
    fixed = {"v": False}
    g = AssetGraph()

    @g.add("ok")
    def ok(sp, inputs):
        calls.append("ok")
        return sp.range(3)

    @g.add("keyed", resource=HOURLY_RES)
    def keyed(sp, inputs):
        calls.append("keyed")
        event = "'click'" if fixed["v"] else "CAST(NULL AS STRING)"
        return sp.sql(f"SELECT {event} AS event_type, "
                      "TIMESTAMP'2024-01-01 00:00:00' AS hour, 1 AS n_events")

    store = str(tmp_path)
    with pytest.raises(SchemaError, match="null primary key"):
        g.materialize(spark, store, incremental=True)
    with open(os.path.join(store, "_manifest.json")) as f:
        assert set(json.load(f)) == {"ok"}

    fixed["v"] = True
    g.materialize(spark, store, incremental=True)
    assert calls == ["ok", "keyed", "keyed"]
    with open(os.path.join(store, "_manifest.json")) as f:
        assert set(json.load(f)) == {"ok", "keyed"}


def test_failing_root_cancels_queued_roots(spark, tmp_path):
    """One worker: ready roots run in declaration order, and the first
    failure leaves the roots still queued unbuilt."""
    calls = []
    g = AssetGraph()

    @g.add("boom")
    def boom(sp, inputs):
        calls.append("boom")
        raise RuntimeError("asset exploded")

    def later(sp, inputs):
        calls.append("later")
        return sp.range(1)

    g.add("later_a")(later)
    g.add("later_b")(later)

    with pytest.raises(RuntimeError, match="asset exploded"):
        g.materialize(spark, str(tmp_path), max_workers=1)
    assert calls == ["boom"]
    assert not os.path.exists(tmp_path / "later_a.parquet")


def test_asset_threads_inherit_the_callers_job_group(spark, tmp_path):
    g = AssetGraph()

    @g.add("src")
    def src(sp, inputs):
        return sp.range(10)

    @g.add("dst", deps=("src",))
    def dst(sp, inputs):
        return inputs["src"].withColumn("twice", F.col("id") * 2)

    for workers in (1, 2):
        group = f"materialize-inherit-{workers}"
        assert _jobs_in_group(spark, group, lambda: g.materialize(
            spark, str(tmp_path / str(workers)), max_workers=workers))


def test_sink_key_check_runs_fewer_jobs(spark, tmp_path):
    """A one-asset graph with a primary key ran 6 jobs at the parent
    revision: the write, and a pre-write key check of two actions on
    the unwritten frame (a 3-job aggregation and a 2-job null probe).
    The sink now checks the key with one aggregation over the written
    table, read back with the frame's schema (4 jobs in all)."""
    g = AssetGraph()

    @g.add("out_hourly_counts", resource=HOURLY_RES)
    def out(sp, inputs):
        return sp.createDataFrame(
            [("click", 1), ("view", 2), ("buy", 3)],
            "event_type string, n_events int").withColumn(
                "hour", F.lit("2024-01-01 00:00:00").cast("timestamp"))

    jobs = _jobs_in_group(spark, "sink-key-check",
                          lambda: g.materialize(spark, str(tmp_path)))
    assert 0 < len(jobs) < 6, len(jobs)
