"""Compare the optimized logical plans of registered queries between
two source trees, in ONE Spark session — the proof that a refactor or
deletion left every plan unchanged.

Each tree's ``pudl_spark`` is imported in turn (the modules are purged
between trees), every named query (default: all registered) is built
against SF_DIR, and its optimized logical plan is normalized:
expression ids are renumbered in order of first appearance, lambda
variables are renamed likewise (their names are cosmetic), and
per-run scratch paths and UUIDs are masked. The ``Expand`` that
RewriteDistinctAggregates emits numbers its ``gid`` groups and orders
its distinct columns in hash order, which changes between two builds of
the same code, so both are put in a canonical order. Queries that build
stores run their eager jobs as usual; their plans compare like any
other.

Usage:
  git archive <base-commit> | tar -x -C /path/to/base
  PYTHONPATH=/path/to/base python tools/plan_diff.py /path/to/base . \\
      --sf SF_DIR [--out plan_diff] [QUERY ...]

Python workers import ``pudl_spark`` from ``PYTHONPATH``. Exits 1 when
any plan differs (both normalized plans are written to --out).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

_LAMBDA = re.compile(r"lambda (\w+)#(\d+)")
_ID = re.compile(r"#(\d+)")
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                   r"[0-9a-f]{12}")
_TMP = re.compile(r"/tmp/[^\s,\])]*")
_EXPAND = re.compile(r"Expand \[(\[.*\])\], \[(.*)\]$", re.M)


def _renumber(plan: str) -> str:
    lam: dict[str, str] = {}
    plan = _LAMBDA.sub(
        lambda m: lam.setdefault(m.group(0), f"lambda L{len(lam)}"), plan)
    ids: dict[str, str] = {}
    return _ID.sub(
        lambda m: ids.setdefault(m.group(1), f"#{len(ids)}"), plan)


def _split(items: str) -> list[str]:
    """Split ``a, f(b, c), [d]`` at its top-level commas."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(items):
        depth += (ch in "([{") - (ch in ")]}")
        if depth == 0 and items.startswith(", ", i):
            out.append(items[start:i])
            start = i + 2
    return out + [items[start:]]


def _canonical_gids(plan: str) -> str:
    """Sort each distinct-aggregate ``Expand``'s distinct columns by
    name and its rows by content, and renumber its ``gid`` literals to
    match, here and in the aggregates that filter on them."""
    for m in _EXPAND.finditer(plan):
        out = _split(m.group(2))
        g = next((i for i, a in enumerate(out) if a.startswith("gid#")),
                 None)
        if g is None:
            continue
        order = sorted(range(g), key=lambda i: (out[i].split("#")[0],
                                                out[i]))
        rows = [[r[i] for i in order] + r[g:] for r in
                (_split(r[1:-1]) for r in _split(m.group(1)))]
        rows.sort(key=lambda r: r[:g] + r[g + 1:])
        new_gid = dict(zip((r[g] for r in rows),
                           sorted((r[g] for r in rows), key=int)))
        for r in rows:
            r[g] = new_gid[r[g]]
        cols = [out[i] for i in order] + out[g:]
        plan = plan.replace(m.group(0), "Expand [{}], [{}]".format(
            ", ".join(f"[{', '.join(r)}]" for r in rows), ", ".join(cols)))
        plan = plan.replace(", ".join(out[:g + 1]),
                            ", ".join(cols[:g + 1]))
        plan = re.sub(rf"\b{re.escape(out[g])} = (\d+)\b",
                      lambda v: f"{out[g]} = {new_gid[v.group(1)]}", plan)
    return plan


def normalize(plan: str) -> str:
    plan = _renumber(_canonical_gids(_renumber(plan)))
    return _TMP.sub("<tmp>", _UUID.sub("<uuid>", plan))


def _load_queries(tree: str, trees: tuple[str, ...]):
    for m in [m for m in sys.modules
              if m == "pudl_spark" or m.startswith("pudl_spark.")]:
        del sys.modules[m]
    sys.path[:] = [tree] + [p for p in sys.path if p not in trees]
    os.chdir(tree)
    from pudl_spark.plans import queries

    assert queries.__file__.startswith(tree), queries.__file__
    return queries.QUERIES


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("changed")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", required=True, help="test-data directory")
    ap.add_argument("--out", default="plan_diff")
    a = ap.parse_intermixed_args()
    trees = tuple(os.path.abspath(t) for t in (a.base, a.changed))
    out = os.path.abspath(a.out)
    os.makedirs(out, exist_ok=True)

    sys.path.insert(0, trees[0])
    from pudl_spark.session import get_spark

    spark = get_spark("plan_diff", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "4g"})
    spark.sparkContext.setLogLevel("ERROR")

    plans: dict[str, dict[str, str]] = {}
    for tag, tree in zip(("base", "changed"), trees):
        queries = _load_queries(tree, trees)
        names = a.names or list(queries)
        t0 = time.time()
        for n in names:
            try:
                df = queries[n](spark, a.sf)
                p = normalize(
                    df._jdf.queryExecution().optimizedPlan().toString())
            except Exception as e:  # a failure is a difference too
                p = f"ERROR {type(e).__name__}: {e}"
            plans.setdefault(n, {})[tag] = p
        print(f"{tag}: {len(names)} plans in {time.time() - t0:.1f} s",
              file=sys.stderr)

    diff = sorted(n for n, d in plans.items()
                  if d.get("base") != d.get("changed"))
    for n in diff:
        for tag, p in plans[n].items():
            with open(os.path.join(out, f"{n}.{tag}.txt"), "w") as f:
                f.write(p)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump({"equal": sorted(set(plans) - set(diff)),
                   "differ": diff}, f, indent=1)
    print(json.dumps({"equal": len(plans) - len(diff), "differ": diff}))
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
