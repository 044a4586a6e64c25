"""get_spark contract: Python workers can import goconnect_spark from
any working directory, the way bench.py and the tools run it."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_UDF_IMPORTS_PACKAGE = """
import sys
sys.path.insert(0, sys.argv[1])  # driver-side only, as bench.py does

import pyspark.sql.functions as F
from goconnect_spark.session import get_spark

spark = get_spark("session-test")

@F.udf("string")
def package_name(_):
    import goconnect_spark
    return goconnect_spark.__name__

rows = spark.range(2).select(package_name("id").alias("p")).collect()
assert [r.p for r in rows] == ["goconnect_spark"] * 2, rows
spark.stop()
"""


def test_workers_import_package_outside_repo(tmp_path):
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.abspath(p) != REPO]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path), SPARK_GRAFT_CPUS="1")
    r = subprocess.run(
        [sys.executable, "-c", _UDF_IMPORTS_PACKAGE, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
