"""Profile registered queries through the benchmark's tracer.

Each query gets one untimed warm-up, then N traced runs, in a session
set up as ``perfbench/run.py`` sets it up. A row holds the min wall
and, for that run, the per-layer figures ``metrics.layers`` computes
for ``run.py --trace 1``. Compare walls only within one session:
across sessions the same code spreads by 1.3-1.4x (SCALE.md).

    python tools/query_profile.py [--runs N] [--sf1] [--explain DIR] Q...
    python tools/query_profile.py --all-watched [OLD NEW]

Reads $SPARK_GRAFT_SF_DIR (default sf0.1). ``--all-watched`` profiles,
at both scales, the queries whose sf1 growth ratio moved by more than
1.5x between two bench artifacts (default BENCH_LATEST_FULL.json and
BENCH_SCRATCH.json).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path[:0] = [REPO, TOOLS, os.path.join(REPO, "perfbench")]

import metrics as M                                    # noqa: E402
import run as bench                                    # noqa: E402
from scale_stress import BASE, SCALED, build_scaled    # noqa: E402
from spans import Tracer                               # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", BASE)
# The layer figures a row reports, under metrics.layers' names.
FIGURES = (
    "functions.eager_s", "functions.eager_jobs", "plans.plan_s",
    "action.s", "action.jobs", "action.stages", "action.tasks",
    "functions.python_run_s", "functions.bytes_to_python",
    "functions.bytes_from_python", "sources.write_s",
    "action.shuffle_read_bytes", "action.shuffle_write_bytes",
    "action.spill_bytes")


def watched_movers(old_path: str, new_path: str,
                   threshold: float = 1.5) -> list[str]:
    """Queries whose sf1 suite growth ratio moved > threshold (either
    direction) between two bench artifacts, plus queries tracked in
    only one of them. Pure artifact comparison — no Spark."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def ratios(p: str) -> dict[str, float]:
        with open(os.path.join(repo, p) if not os.path.isabs(p)
                  else p) as f:
            d = json.load(f)
        sf1 = d.get("sf1") or {}
        return {q: v["ratio_vs_base"] for q, v in sf1.items()
                if isinstance(v, dict) and "ratio_vs_base" in v}

    old, new = ratios(old_path), ratios(new_path)
    movers = sorted(set(old) ^ set(new))
    for q in sorted(set(old) & set(new)):
        lo, hi = sorted((old[q], new[q]))
        if lo > 0 and hi / lo > threshold:
            movers.append(q)
    return sorted(set(movers))


def _run(spark, tracer, name, sf_dir):
    """One construct + noop-action pass of ``name``, as the benchmark's
    ``QueryRunner.one_pass`` times an op."""
    from pudl_spark.plans.queries import QUERIES

    with tracer.span("pass", "pass") as root:
        with tracer.span(name, "construct"):
            df = QUERIES[name](spark, sf_dir)
        with tracer.span(name, "action"):
            df.write.format("noop").mode("overwrite").save()
    return root, df


def _tracer(spark) -> Tracer:
    """A tracer that skips the SQL executions the session has already
    run: ``collect`` serializes every unseen execution's metrics, about
    45 ms each, and a long session (a test run) retains 1000 of them."""
    tracer = Tracer(spark, enabled=True)
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    tracer._seen_execs.update(
        execs.apply(i).executionId() for i in range(execs.size()))
    return tracer


def profile(spark, names, sf_dir: str, runs: int = 3,
            explain: str | None = None) -> dict[str, dict]:
    """query -> {"wall_s", "runs", *FIGURES} of its fastest traced run."""
    cores = spark.sparkContext.defaultParallelism
    out = {}
    for name in names:
        spark.catalog.clearCache()
        _, df = _run(spark, Tracer(spark, enabled=False), name, sf_dir)
        if explain:
            os.makedirs(explain, exist_ok=True)
            with open(os.path.join(explain, f"{name}.txt"), "w") as f:
                f.write(spark.sparkContext._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        walls, best = [], None
        for _ in range(runs):
            tracer = _tracer(spark)
            root, _ = _run(spark, tracer, name, sf_dir)
            tracer.collect(root)
            walls.append(round(root.wall, 3))
            if best is None or root.wall < best[1].wall:
                best = (tracer, root)
        layers = M.layers(*best, rows=0, cores=cores)
        out[name] = {"wall_s": min(walls), "runs": walls, **{
            k: round(layers[k], 3) for k in FIGURES}}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", metavar="QUERY")
    ap.add_argument("--runs", type=int, default=3,
                    help="traced runs after the untimed warm-up")
    ap.add_argument("--sf1", action="store_true",
                    help="also profile a 10x copy; adds sf1, floor_ratio")
    ap.add_argument("--explain", metavar="DIR",
                    help="write each formatted plan to DIR/QUERY.txt")
    ap.add_argument("--all-watched", action="store_true",
                    help="QUERY... are two bench artifacts, OLD NEW")
    a = ap.parse_args()
    names = a.names
    if a.all_watched:
        if len(names) > 2:
            ap.error("--all-watched takes at most two operands "
                     "(OLD_ARTIFACT NEW_ARTIFACT), got: " + " ".join(names))
        old_p, new_p = (names + ["BENCH_LATEST_FULL.json",
                                 "BENCH_SCRATCH.json"][len(names):])[:2]
        names = watched_movers(old_p, new_p)
        a.sf1 = True
        print(f"re-flooring {len(names)} moved watches: {names}",
              file=sys.stderr)
        if not names:
            return 0
    if not names:
        ap.error("no QUERY given")

    from pudl_spark.plans.queries import QUERIES

    for n in sorted(set(names) - set(QUERIES)):
        # --all-watched can select a watch whose query was renamed or
        # retired since the old artifact.
        print(f"skipping {n}: not in the query registry", file=sys.stderr)
    names = [n for n in names if n in QUERIES]
    bench._prepare_env(REPO)
    spark, _ = bench._setup()
    try:
        if a.sf1:
            print("building 10x copy ...", file=sys.stderr)
            build_scaled(spark, 10, SF_DIR)
        for n in names:
            row = {"query": n, **profile(spark, [n], SF_DIR, a.runs,
                                         a.explain)[n]}
            if a.sf1:
                row["sf1"] = profile(spark, [n], SCALED, a.runs)[n]
                row["floor_ratio"] = round(
                    row["sf1"]["wall_s"] / row["wall_s"], 2)
            print(json.dumps(row), flush=True)
    finally:
        bench._stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
