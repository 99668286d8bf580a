"""Asset-DAG pipeline runner — the reference's query lifecycle.

Ref: the `pudl` ETL job (SURVEY.md §3.1): Dagster resolves an asset
dependency graph (node = table-producing function, edge = named
input), materializes each table through its IO manager, and enforces
the declared schema at the boundary (build_defs
src/pudl/dagster/build.py:36-68; asset registry
src/pudl/dagster/assets/__init__.py:31-56; schema enforcement at the
sink src/pudl/dagster/io_managers.py:139-152,379-418).

Spark-first re-expression: an asset is a ``(spark, inputs) ->
DataFrame`` function; the graph is topologically materialized with a
Parquet checkpoint per asset (exactly the reference's per-asset
materialization, which is what makes a 100 TB run restartable and
keeps any single lineage shallow). Between assets Catalyst sees plain
parquet scans, so pruning/pushdown work across layer boundaries;
within an asset the whole transform is one optimized plan — the
process-boundary pickling the reference pays per Dagster op simply
disappears.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

from pudl_spark.schema.enforce import check_primary_key, conform
from pudl_spark.schema.model import Resource
from pudl_spark.session import inherit_context
from pudl_spark.sources.files import write_parquet_table
from pudl_spark.validate import assert_empty

AssetFn = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass
class Asset:
    """One table-producing node (ref: a Dagster @asset)."""

    name: str
    fn: AssetFn
    deps: tuple[str, ...] = ()
    resource: Resource | None = None      # declared schema, enforced at sink
    partition_cols: tuple[str, ...] = ()
    sort_cols: tuple[str, ...] = ()
    group: str = "core"                   # raw -> core -> out layering
    # Inline asset checks (ref: Dagster asset checks,
    # src/pudl/dagster/asset_checks.py:264): each callable maps the
    # materialized DataFrame to a VIOLATIONS DataFrame (empty == pass,
    # see pudl_spark.validate); failures abort the run.
    checks: tuple = ()
    # Incremental-materialization inputs (ref: Dagster code_version /
    # memoization): `version` is the asset's declared code version —
    # bump it when the transform changes; `inputs_signature` (for
    # source assets) returns a string capturing the external inputs'
    # state (e.g. file sizes+mtimes) so upstream data changes
    # invalidate the asset without a manual bump.
    version: str = "1"
    inputs_signature: Callable[[], str] | None = None

    def __post_init__(self):
        for f in ("deps", "partition_cols", "sort_cols", "checks"):
            setattr(self, f, tuple(getattr(self, f)))


@dataclass
class AssetGraph:
    """A DAG of assets with per-asset Parquet materialization."""

    assets: dict[str, Asset] = field(default_factory=dict)

    def add(self, name: str, **kw):
        """Decorator: register ``fn(spark, inputs)`` as an asset;
        ``kw`` are the :class:`Asset` fields after ``name`` and ``fn``."""
        def deco(fn: AssetFn) -> AssetFn:
            self.assets[name] = Asset(name, fn, **kw)
            return fn
        return deco

    def _closure(self, selection: list[str] | None) -> dict[str, list[str]]:
        """name -> deps over ``selection`` and everything upstream of
        it (the whole graph when None), in declaration order."""
        wanted = set(self.assets) if selection is None else set()
        stack = list(selection or ())
        while stack:
            n = stack.pop()
            if n not in wanted:
                wanted.add(n)
                stack.extend(self.assets[n].deps)
        return {n: list(a.deps) for n, a in self.assets.items()
                if n in wanted}

    def fingerprints(self, selection: list[str] | None = None
                     ) -> dict[str, str]:
        """Content-addressed freshness keys: an asset's fingerprint
        hashes its declared code version, its external-input
        signature, its sink configuration (schema / partitioning /
        sort), and — transitively — every upstream fingerprint. Any
        change upstream therefore re-keys the whole downstream
        closure, which is exactly the invalidation rule Dagster's
        memoization and every lakehouse incremental build uses.
        """
        import hashlib

        fps: dict[str, str] = {}
        for name in self.order(selection):
            a = self.assets[name]
            parts = [
                f"v={a.version}",
                f"sig={a.inputs_signature() if a.inputs_signature else ''}",
                f"schema={a.resource.name if a.resource else ''}",
                f"part={','.join(a.partition_cols)}",
                f"sort={','.join(a.sort_cols)}",
            ] + [f"dep:{d}={fps[d]}" for d in sorted(a.deps)]
            fps[name] = hashlib.sha256(
                "|".join(parts).encode()).hexdigest()[:32]
        return fps

    def order(self, selection: list[str] | None = None) -> list[str]:
        """Topological materialization order (full graph or the
        upstream closure of ``selection``)."""
        return list(TopologicalSorter(self._closure(selection))
                    .static_order())

    def materialize(self, spark: SparkSession, store_dir: str,
                    selection: list[str] | None = None,
                    incremental: bool = False,
                    max_workers: int = 1) -> dict[str, str]:
        """Run the DAG; each asset is written to
        ``store_dir/<name>.parquet`` and downstream assets read the
        materialized copy (checkpoint semantics — shallow lineage,
        restartable). Returns name -> path.

        Before the write the sink only coerces the frame to the
        declared ``resource`` (no Spark job); after it, one read-back of
        the written table runs the primary-key check and every
        ``Asset.checks`` entry, before the manifest records the asset.

        ``incremental=True`` skips any asset whose fingerprint (code
        version + external-input signature + upstream closure, see
        :meth:`fingerprints`) matches the manifest recorded by the
        previous run AND whose output still exists — so a 100 TB
        rebuild after a one-asset change recomputes only that asset's
        downstream cone, not the world. The manifest updates after
        EVERY asset, so an interrupted run resumes where it stopped.
        There is no ``skip_existing``: an existing output is no reason
        to skip.

        A topological wavefront hands ready assets, in declaration
        order, to a pool of ``max_workers`` threads that inherit the
        caller's job group and tags (ref: Dagster's multiprocess
        executor); the first failure re-raises with the assets not yet
        handed out unbuilt. The default is 1 because callers' asset and
        check callables need not be thread-safe (a tracer with one
        open span, say).
        """
        import json
        import threading
        from concurrent.futures import (FIRST_COMPLETED,
                                        ThreadPoolExecutor, wait)

        manifest_path = os.path.join(store_dir, "_manifest.json")
        manifest: dict[str, str] = {}
        if incremental and os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
        fps = self.fingerprints(selection) if incremental else {}
        graph = self._closure(selection)
        paths = {name: os.path.join(store_dir, f"{name}.parquet")
                 for name in graph}
        lock = threading.Lock()

        def run_one(name: str) -> None:
            asset = self.assets[name]
            dest = paths[name]
            if (incremental and manifest.get(name) == fps[name]
                    and os.path.exists(dest)):
                return
            inputs = {d: spark.read.parquet(paths[d]) for d in asset.deps}
            df = asset.fn(spark, inputs)
            pk = asset.resource.primary_key if asset.resource else ()
            if asset.resource is not None:
                df = conform(df, asset.resource)
            write_parquet_table(
                df, dest,
                partition_cols=list(asset.partition_cols) or None,
                sort_cols=list(asset.sort_cols) or None)
            if pk or asset.checks:
                # The frame's schema spares a footer-reading job.
                written = spark.read.schema(df.schema).parquet(dest)
                if pk:
                    check_primary_key(written, pk, asset.resource.name)
                for idx, check in enumerate(asset.checks):
                    assert_empty(check(written), f"{name}.check[{idx}]")
            if incremental:
                with lock:
                    manifest[name] = fps[name]
                    os.makedirs(store_dir, exist_ok=True)
                    with open(manifest_path, "w") as f:
                        json.dump(manifest, f, indent=0, sort_keys=True)

        target = inherit_context(spark, run_one)
        rank = {name: i for i, name in enumerate(graph)}
        ts = TopologicalSorter(graph)
        ts.prepare()
        ready: list[str] = []
        with ThreadPoolExecutor(max_workers=max_workers) as ex:
            pending: dict = {}
            while ts.is_active():
                ready = sorted([*ready, *ts.get_ready()], key=rank.get)
                # Hand out no more than there are workers, so nothing
                # sits in the pool's queue when an asset fails.
                while ready and len(pending) < max_workers:
                    name = ready.pop(0)
                    pending[ex.submit(target, name)] = name
                done, _ = wait(pending, return_when=FIRST_COMPLETED)
                for fut in done:
                    fut.result()        # re-raise asset failures
                    ts.done(pending.pop(fut))
        return paths
