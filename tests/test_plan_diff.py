"""``tools/plan_diff.normalize`` (Spark-free): the distinct-aggregate
``Expand`` group order is construction noise, a changed plan is not."""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan_diff():
    spec = importlib.util.spec_from_file_location(
        "plan_diff", os.path.join(REPO, "tools", "plan_diff.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plans():
    # Two optimized plans of ``orders_profile`` built from one tree in
    # one session: RewriteDistinctAggregates gave the o_custkey and
    # o_orderkey distinct groups gid 1 and 3 in one, 3 and 1 in the
    # other, and ordered the Expand's columns differently.
    with open(os.path.join(REPO, "tests", "golden",
                           "orders_profile_plans.json")) as f:
        d = json.load(f)
    return d["gid_1_3"], d["gid_3_1"]


def test_normalize_ignores_distinct_group_order():
    pd = _plan_diff()
    a, b = _plans()
    assert a != b
    assert pd.normalize(a) == pd.normalize(b)


def test_normalize_keeps_a_changed_distinct_group():
    # nd0 now counts the o_totalprice group: a different query.
    pd = _plan_diff()
    a, _ = _plans()
    changed = a.replace("(gid#66 = 1)) AS nd0", "(gid#66 = 2)) AS nd0")
    assert changed != a
    assert pd.normalize(changed) != pd.normalize(a)
