#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 \\
        --trace 0

Run from the repository root. Load shape: one process, one client,
closed loop; ops (one query, or one ETL build) run one after another
on ``local[nproc]`` with ``pudl_spark.session.get_spark`` defaults.

A run:

1. makes the workload's inputs (``gen.py``, cached under
   ``.perfbench/cache``; outside every timed region);
2. sets up: imports, starts the session and warms the engine and the
   Python workers (``setup_s``);
3. runs one cold pass (``first_pass_s``), in the workload's declared
   op order, then verifies every op's output against ``expected.json``
   (untimed);
4. runs ``WARMUP_PASSES`` untimed passes, then measured warm passes
   until ``--seconds`` have passed, at least two (``pass_s``: the sum
   over ops of each op's median measured time).

With ``--trace 1`` the warm passes alternate untraced and traced; the
traced ones set job groups, read Spark's status stores and give the
per-layer metrics, and their spans are written to
``.perfbench/trace-<workload>-<seed>.json``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``. Exit status 2 means the program under test could not be
imported (e.g. run outside a checkout).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import random
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M                             # noqa: E402
import verify                                   # noqa: E402
from spans import Tracer                        # noqa: E402
from workloads import (CACHE_DIR, CORE_ASSETS, ETL_ORACLES,  # noqa: E402
                       WORK_DIR, WORKLOADS, downstream_cone, etl_graph)

# Untimed passes between the verified cold pass and the measured
# window: the JIT is still settling over the first warm pass.
WARMUP_PASSES = 1
MIN_WARM_PASSES = 2


def _prepare_env(root: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import ``pudl_spark`` from it."""
    work = os.path.abspath(WORK_DIR)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def _setup():
    """Session start and warm-up; returns (spark, timings)."""
    t0 = time.perf_counter()
    from pudl_spark.session import get_spark
    tmp = os.environ["TMPDIR"]
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from pyspark.sql import functions as F

    # One SQL job with a shuffle, and one Arrow batch through the Python
    # workers.
    (spark.range(0, 100_000, numPartitions=int(
        os.environ["SPARK_GRAFT_CPUS"]))
     .mapInPandas(lambda it: (b + 1 for b in it), "id long")
     .groupBy(F.col("id") % 7).count().collect())
    t2 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "warmup_s": t2 - t1}


def _peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


# --------------------------------------------------------------------
# Query workloads
# --------------------------------------------------------------------

class _Runner:
    """One workload's passes. ``one_pass`` returns the pass span and
    the op -> wall map; failures are collected, not raised."""

    def __init__(self, spark, workload, src, rng):
        self.spark, self.w, self.src, self.rng = spark, workload, src, rng
        self.failed: set[str] = set()
        self.attempted = 0

    def _fail(self, op, why):
        self.failed.add(op)
        print(f"FAILED {op}: {why[:500]}", file=sys.stderr)

    def extra(self) -> dict:
        """Per-layer numbers the spans alone do not give."""
        raise NotImplementedError

    def cleanup(self) -> None:
        pass


class QueryRunner(_Runner):
    def __init__(self, spark, workload, src, expected, rng):
        super().__init__(spark, workload, src, rng)
        self.expected = expected["queries"][workload.name]
        self.frames = {}

    def one_pass(self, tracer, cold=False):
        from pudl_spark.plans.queries import QUERIES

        ops = list(self.w.ops)
        if not cold:        # the cold pass keeps the declared order
            self.rng.shuffle(ops)
        times = {}
        with tracer.span("pass", "pass") as root:
            for op in ops:
                self.attempted += 1
                with tracer.span(op, "op") as s:
                    try:
                        with tracer.span(op, "construct"):
                            df = QUERIES[op](self.spark, self.src)
                        with tracer.span(op, "action"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:     # an op failure is a result
                        self._fail(op, f"{type(e).__name__}: {e}")
                        df = None
                times[op] = s.wall
                if cold:
                    self.frames[op] = df
        return root, times

    def verify_cold(self):
        for op, df in self.frames.items():
            if df is None:
                continue
            try:
                got = verify.spark_fingerprint(df)
            except Exception as e:
                self._fail(op, f"verify {type(e).__name__}: {e}")
                continue
            why = verify.diff(self.expected.get(op), got)
            if why:
                self._fail(op, why)
        self.frames.clear()

    def output_rows(self) -> int:
        return sum(self.expected[op]["rows"] for op in self.w.ops)

    def extra(self) -> dict:
        return dict.fromkeys((                    # no asset DAG here
            "pipeline.assets_built", "pipeline.assets_skipped",
            "pipeline.overhead_s", "etl.build_s", "etl.rebuild_s",
            "etl.bytes_per_row"), 0)


# --------------------------------------------------------------------
# ETL workload
# --------------------------------------------------------------------

class _EtlHooks:
    """Asset/check hooks: count builds and, through the tracer, keep
    one contiguous phase span per asset and per check (an asset's span
    runs from its function call through its write, up to the next
    hook)."""

    def __init__(self):
        self.tracer = None
        self.open_span = None
        self.built: list[str] = []

    def _switch(self, name, kind):
        self.finish()
        self.open_span = self.tracer.open(name, kind)
        return self.open_span

    def finish(self):
        if self.open_span is not None:
            self.tracer.close(self.open_span)
            self.open_span = None

    @contextlib.contextmanager
    def asset(self, name):
        self.built.append(name)
        s = self._switch(name, "asset")
        yield
        s.attrs["construct_s"] = s.wall

    @contextlib.contextmanager
    def check(self, name):
        self._switch(name, "check")
        yield


class EtlRunner(_Runner):
    def __init__(self, spark, workload, src, expected, rng):
        super().__init__(spark, workload, src, rng)
        self.expected = expected["etl"]
        self.hooks = _EtlHooks()
        self.graph = etl_graph(src, self.hooks)
        self.bump = rng.choice(CORE_ASSETS)
        self.cone = downstream_cone(self.graph, self.bump)
        self.n_pass = 0
        self.store = None
        self.last = {}

    def _materialize(self, tracer, name, **kw):
        self.hooks.tracer, self.hooks.built = tracer, []
        with tracer.span(name, "op") as s:
            try:
                self.graph.materialize(self.spark, self.store,
                                       incremental=True, **kw)
            except Exception as e:
                self._fail(name, f"{type(e).__name__}: {e}")
            finally:
                self.hooks.finish()
        return s, list(self.hooks.built)

    def one_pass(self, tracer, cold=False):
        if self.store:
            shutil.rmtree(self.store, ignore_errors=True)
        self.n_pass += 1
        self.store = os.path.abspath(os.path.join(
            WORK_DIR, f"etl-store-{os.getpid()}-{self.n_pass}"))
        with tracer.span("pass", "pass") as root:
            b, built = self._materialize(tracer, "build")
        self.attempted += len(self.graph.assets)
        if set(built) != set(self.graph.assets):
            self._fail("build", f"built only {sorted(built)}")
        self._check_counts()
        if cold or tracer.enabled:
            self._rebuild(tracer)
        self.last["build"] = b
        return root, {"build": b.wall}

    def _rebuild(self, tracer) -> None:
        """The one-asset-change rebuild: bump the seed-chosen core
        asset's code version; exactly its downstream cone rebuilds."""
        self.attempted += 1
        self.graph.assets[self.bump].version = f"bump{self.n_pass}"
        r, rebuilt = self._materialize(tracer, "rebuild")
        self.graph.assets[self.bump].version = "1"
        if set(rebuilt) != self.cone or len(rebuilt) != len(self.cone):
            self._fail("rebuild", f"rebuilt {sorted(rebuilt)}, expected "
                                  f"the cone {sorted(self.cone)}")
        self.last.update(rebuild=r, rebuilt=rebuilt, rebuild_phases=[
            c for c in tracer.children(r) if c.kind in ("asset", "check")])

    def _rows(self, name) -> int:
        import pyarrow.dataset as ds

        return ds.dataset(os.path.join(self.store, f"{name}.parquet"),
                          format="parquet", partitioning="hive").count_rows()

    def _check_counts(self):
        for name, want in self.expected["rows"].items():
            try:
                got = self._rows(name)
            except (OSError, ValueError) as e:
                self._fail(name, f"unreadable output: {e}")
                continue
            if got != want:
                self._fail(name, f"rows {got} != expected {want}")

    def verify_cold(self):
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("orders", "lineitem", "customer", "nation"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(self.src, t + '.parquet')}')")
            for name, sql in ETL_ORACLES.items():
                path = os.path.join(self.store, f"{name}.parquet")
                got = verify.duckdb_fingerprint(
                    con, f"SELECT * FROM read_parquet('{path}/**/*.parquet',"
                         f" hive_partitioning = true)")
                why = verify.diff(verify.duckdb_fingerprint(con, sql), got)
                if why:
                    self._fail(name, why)
        finally:
            con.close()

    def output_rows(self) -> int:
        return sum(self.expected["rows"].values())

    def extra(self) -> dict:
        b, r = self.last["build"], self.last["rebuild"]
        phases = self.last["rebuild_phases"]
        out_bytes = 0
        for dirpath, _, files in os.walk(self.store):
            out_bytes += sum(os.path.getsize(os.path.join(dirpath, f))
                             for f in files if f.endswith(".parquet"))
        return {
            "etl.build_s": b.wall,
            "etl.rebuild_s": r.wall,
            "etl.bytes_per_row": out_bytes / max(self.output_rows(), 1),
            "pipeline.assets_built": len(self.last["rebuilt"]),
            "pipeline.assets_skipped":
                len(self.graph.assets) - len(self.last["rebuilt"]),
            "pipeline.overhead_s": r.wall - sum(s.wall for s in phases),
        }

    def cleanup(self):
        if self.store:
            shutil.rmtree(self.store, ignore_errors=True)


# --------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("pudl_spark") is None:
        print("perfbench: pudl_spark is not importable from "
              f"{root}; run from the repository root", file=sys.stderr)
        return 2
    _prepare_env(root)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)

    w = WORKLOADS[args.workload]
    src = os.path.abspath(w.inputs(CACHE_DIR))
    rng = random.Random(args.seed)

    spark, setup = _setup()
    runner = None
    try:
        runner_cls = EtlRunner if w.kind == "etl" else QueryRunner
        runner = runner_cls(spark, w, src, expected, rng)
        _, first = runner.one_pass(Tracer(spark, enabled=False), cold=True)
        print("perfbench: cold pass " + json.dumps(first), file=sys.stderr)
        runner.verify_cold()

        for _ in range(WARMUP_PASSES):
            runner.one_pass(Tracer(spark, enabled=False))

        warm: list[dict] = []
        traced: list[tuple] = []
        t_warm = time.perf_counter()
        i = 0
        while (i < MIN_WARM_PASSES
               or time.perf_counter() - t_warm < args.seconds):
            tr = Tracer(spark, enabled=bool(args.trace) and i % 2 == 1)
            root, times = runner.one_pass(tr)
            if tr.enabled:
                tr.collect(root)
                traced.append((tr, root, times, runner.extra()))
            else:
                warm.append(times)
            i += 1

        pass_s = M.sum_of_medians(warm)
        print("perfbench: warm passes " + json.dumps(warm), file=sys.stderr)
        rows = runner.output_rows()
        if args.trace:
            values = M.per_layer(
                setup, traced, pass_s, rows,
                int(os.environ["SPARK_GRAFT_CPUS"]), _peak_rss_mb(spark))
            _dump_trace(args, traced)
        else:
            values = {
                "setup_s": setup["start_s"] + setup["warmup_s"],
                "first_pass_s": sum(first.values()),
                "pass_s": pass_s,
                "output_rows_per_s": rows / pass_s,
            }
    finally:
        if runner is not None:
            runner.cleanup()
        _stop(spark)
    print(json.dumps({
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]}
                    for m in declared["per_layer" if args.trace
                                      else "end_to_end"]},
    }))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _dump_trace(args, traced) -> None:
    path = os.path.join(".perfbench",
                        f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump([[s.as_dict() for s in tr.spans]
                   for tr, *_ in traced], f)


if __name__ == "__main__":
    sys.exit(main())
