"""The stored-index registry queries write their indexes under one scratch
root per process, and that root is gone once the process exits."""

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = """
import glob, os, sys, tempfile
sys.path.insert(0, {repo!r})
from platform_etl_openfda_faers_spark.plans import benchmarks
from platform_etl_openfda_faers_spark.session import get_spark

spark = get_spark("scratch", master="local[2]", conf={{
    "spark.ui.enabled": "false", "spark.driver.memory": "1g",
}})
rows = benchmarks.SPARK_QUERIES["dedup_stored_index_serve"](spark, {sf!r}).collect()
live = glob.glob(os.path.join(tempfile.gettempdir(), "spark_graft*"))
print(len(rows), len(live))
spark.stop()
"""


def test_registry_scratch_root_removed_at_exit(tmp_path, sf_dir):
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=str(REPO), sf=sf_dir)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    n_rows, n_live = map(int, out.stdout.split()[-2:])
    assert n_rows > 0
    # the index really was written under this TMPDIR while running...
    assert n_live > 0
    # ...and nothing of it is left behind
    assert not list(tmp_path.glob("spark_graft*"))
