"""The scripts under ``tools/``: each imports cleanly, and
``tools/query_profile.py`` reports the benchmark's layers per query."""

import glob
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


def _load(path):
    name = "tools_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path):
    # ``python tools/X.py`` puts tools/ first on sys.path, so a tool
    # named like a stdlib module (``profile``, which pyspark imports
    # through cProfile) would replace it for every other tool.
    assert os.path.basename(path)[:-3] not in sys.stdlib_module_names
    assert callable(_load(path).main)


def test_profile_layers(spark, sf_dir, tmp_path):
    prof = _load(os.path.join(REPO, "tools", "query_profile.py"))
    got = prof.profile(spark, ["pricing_summary", "excel_roundtrip_nation"],
                       sf_dir, runs=1, explain=str(tmp_path))
    plan_only, eager = got["pricing_summary"], got["excel_roundtrip_nation"]
    assert plan_only["functions.eager_jobs"] == 0
    assert plan_only["action.jobs"] >= 1
    # The xlsx round trip collects the nation table while it builds.
    assert eager["functions.eager_jobs"] > 0
    assert (tmp_path / "pricing_summary.txt").read_text().strip()
