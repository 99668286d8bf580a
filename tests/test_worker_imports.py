"""What a Python worker imports: ``pudl_spark`` from any launch
directory, and no more of ``pudl_spark.functions`` than the UDF's own
module. Both run in fresh interpreters, since module caches and the
session's worker environment are process-wide."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env() -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = env.get("SPARK_LOCAL_DIRS", "/tmp")
    return env


def test_functions_submodule_import_loads_no_siblings(tmp_path):
    heavy = ("text", "dedup", "similarity", "sampling")
    code = (f"import sys; sys.path.insert(0, {ROOT!r}); "
            "import pudl_spark.functions.jpeg; "
            f"print([m for m in {heavy!r} "
            "if 'pudl_spark.functions.' + m in sys.modules])")
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                         env=_env(), capture_output=True, text=True,
                         timeout=60, check=True)
    assert out.stdout.strip() == "[]"


_WORKER_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from pudl_spark.session import get_spark

spark = get_spark("worker-import", master="local[1]", extra_conf={{
    "spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "1"}})


def probe(batches):
    import pudl_spark.sql
    for b in batches:
        yield b.assign(id=len(pudl_spark.sql.ident("x")))


print(spark.range(1).mapInPandas(probe, "id long").collect()[0]["id"])
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    """The launching process finds ``pudl_spark`` through its ``sys.path``
    only; the workers, launched in ``tmp_path``, must get it from the
    session's ``spark.executorEnv.PYTHONPATH``."""
    script = tmp_path / "probe.py"
    script.write_text(_WORKER_SCRIPT.format(root=ROOT))
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=_env(), capture_output=True, text=True,
                         timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "3"
